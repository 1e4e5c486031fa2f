"""Checkpointed rounds: the one round discipline of every iterative
operator (connected components, PageRank, label propagation, the
H-index / k-core fixpoint, BPE merges, the hierarchy rollup).

Each round's plan reads the previous round's frame, often several
times (a connected-components round reads its edge set ~6 times:
symmetrize plus two star joins). Left lazy, the logical plan grows
geometrically with the round count and Catalyst analysis, not
execution, becomes the bottleneck long before the data does; a
``persist``-ed frame still carries its whole lineage in the plan. So
every round is an EAGER ``localCheckpoint``: lineage is cut, an
expensive input plan (a similarity join, the co-purchase pair mining)
never re-executes inside the loop, and the checkpoint is the ONE job a
round pays. Convergence tests and broadcast-size routers read their
numbers as observed metrics of that job (one ``Observation``), never
as extra actions.

Release rule: ``iterate`` frees each round's checkpoint once the next
round has been checkpointed and the convergence test has read both, so
a loop holds at most two rounds' blocks however many it runs. It never
frees a frame it did not create -- the caller's seed state, one-shot
``checkpoint`` frames and the returned final round stay readable.

Size rule: a loop whose state is small pays a job per round for
nothing but Spark's per-job overhead. ``route`` checkpoints the seed
state in the job the operator pays anyway, with its row count observed
on that job; at most ``LOCAL_MAX_ROWS`` rows, the state is collected
once (``toArrow``), its checkpoint released, and every round runs in
the driver. Above the ceiling the distributed loop runs unchanged.
"""

from __future__ import annotations

from typing import Any, Callable, TypeVar

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

Observed = dict[str, Any]
T = TypeVar("T")

#: row ceiling of ``route``'s driver-side rounds, below the slower of
#: the measured crossovers (4 cores, local mode, warm session): 16 BPE
#: merges over ~266k words took 16-21 s in the driver and 22 s as the
#: Spark loop (93k words: 7 s against 17 s); 6 PageRank rounds over 2M
#: canonical edges took 1.6 s in the driver and 3.5 s as the Spark loop.
LOCAL_MAX_ROWS = 200_000


def checkpoint(df: DataFrame, **metrics: Column) -> tuple[DataFrame, Observed]:
    """Eagerly ``localCheckpoint`` ``df`` in one job. Each named metric
    Column (an aggregate such as ``F.count(F.lit(1))``) rides that same
    job through one ``Observation``; returns ``(frame, observed)`` with
    ``observed`` mapping metric name -> value (``{}`` without metrics)."""
    if not metrics:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    frame = df.observe(
        obs, *[c.alias(name) for name, c in metrics.items()]
    ).localCheckpoint(eager=True)
    return frame, obs.get


def release(frame: DataFrame) -> None:
    """Free the blocks of a ``checkpoint`` frame; reading it again raises
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Goes straight to
    ``SparkContext.unpersistRDD``: ``RDD.unpersist`` calls the same
    after warning that a locally checkpointed RDD cannot be recomputed,
    which is the point of releasing it."""
    rdd = frame._jdf.logicalPlan().rdd()
    frame.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd.id(), False)


def route(
    df: DataFrame,
    local: Callable[[pa.Table, Observed], T | None],
    **metrics: Column,
) -> tuple[DataFrame | None, Observed, T | None]:
    """Size router of an iterative loop's seed state.

    Checkpoints ``df`` like :func:`checkpoint`, with its row count
    observed as ``n_rows`` next to ``metrics`` on the same job. At most
    ``LOCAL_MAX_ROWS`` rows, ``local(table, observed)`` runs every
    round in the driver over the collected Arrow table; a non-None
    answer releases the checkpoint and returns ``(None, observed,
    answer)``. Otherwise (too many rows, or ``local`` declined with
    None) returns ``(frame, observed, None)`` and the caller runs its
    distributed loop on the live checkpoint. The checkpoint is released
    if ``local`` raises."""
    frame, observed = checkpoint(df, n_rows=F.count(F.lit(1)), **metrics)
    if observed["n_rows"] > LOCAL_MAX_ROWS:
        return frame, observed, None
    try:
        answer = local(frame.toArrow(), observed)
    except BaseException:
        release(frame)
        raise
    if answer is None:
        return frame, observed, None
    release(frame)
    return None, observed, answer


def iterate(
    state: DataFrame | tuple[DataFrame, Observed],
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    *,
    metrics: dict[str, Column] | None = None,
    until: Callable[[DataFrame, DataFrame, Observed, Observed], bool]
    | None = None,
) -> tuple[DataFrame, bool]:
    """Run up to ``rounds`` checkpointed rounds of ``step(state, i)``.

    ``state`` is the seed frame, or the ``(frame, observed)`` pair of a
    seed ``checkpoint`` so the first round's ``until`` sees the seed's
    metrics. Each round checkpoints ``step(prev, i)`` with ``metrics``
    observed, then calls ``until(prev, new, prev_observed,
    new_observed)``; after it has run, ``prev`` is released if a round
    of this loop made it. Returns ``(final_frame, until_fired)``."""
    frame, observed = state if isinstance(state, tuple) else (state, {})
    owned = False
    for i in range(rounds):
        new, new_observed = checkpoint(step(frame, i), **(metrics or {}))
        fired = until is not None and until(frame, new, observed, new_observed)
        if owned:
            # later rounds do not depend on these blocks (the checkpoint
            # cut their lineage)
            release(frame)
        frame, observed, owned = new, new_observed, True
        if fired:
            return frame, True
    return frame, False
