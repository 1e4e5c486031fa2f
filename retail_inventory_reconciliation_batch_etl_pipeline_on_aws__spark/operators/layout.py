"""Z-order layout helper on top of the canonical Morton writer.

The engine's one Morton implementation is ``sources/writers.zorder_key``
(generic n-column interleave). ``zvalue16`` is its 2-dimension/16-bit
special case (bit i of column k lands at 2i+k: x in the even bits, y in
the odd -- the classic interleave, pinned value-exact against an
independent SQL spelling by the ``zorder_curve`` oracle). Scaling to a
common width is REQUIRED before interleaving dimensions of unequal
width: raw bits from an 11-bit key and a 6-bit quantity leave the
Morton key's high bits owned entirely by the wide column, degenerating
the curve to a single-column sort.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..sources.writers import zorder_key


def zvalue16(x: Column, y: Column) -> Column:
    """32-bit Morton key of two 16-bit dimensions (x in the even bits,
    y in the odd) -- ``zorder_key`` at n=2. Callers pre-scale each
    dimension into [0, 2^16); values beyond 16 bits are
    masked, not errors, so the key is total on any input."""
    mask = F.lit(0xFFFF)
    return zorder_key(
        [x.cast("long").bitwiseAND(mask), y.cast("long").bitwiseAND(mask)],
        bits=16,
    )
