"""Strict (bit-exact) Spark-vs-DuckDB parity checker, and the compare
path the pytest parity mirror shares.

``compare`` runs one entry on both engines and compares column names,
row counts and rows of canonical cells; the caller picks the cell
rule. The pytest mirror (`tests/conftest.py::_norm_cell`) rounds floats
to 6dp, which once masked a driver-side `hash_match=false` (`lm_score`,
round 4).  This tool is the paranoid twin: NO float rounding -- cells
must agree on exact ``repr`` (floats compared by bit pattern via
``struct.pack``), Decimals compared as exact strings.  Run it at the
driver's correctness SF before shipping a round:

    python tools/strict_parity.py [--sf /root/testdata/sf0.01] [--first 50]

Exit code 1 if any window entry mismatches.
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import math
import os
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.session import (  # noqa: E402
    build_session,
)
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.sql import (  # noqa: E402
    TABLES,
)


def _strict_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", struct.pack("<d", v))
    if isinstance(v, decimal.Decimal):
        # exact digits; normalize trailing zeros away so DECIMAL(38,2)
        # 5.00 == 5.0 regardless of declared scale on either side
        return ("d", str(v.normalize()) if v != 0 else "0")
    if isinstance(v, (dt.datetime, dt.date)):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_strict_cell(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v))
    return v


def _rows(cols, rows, cell=_strict_cell):
    """Order-insensitive, column-name-sorted row multiset of ``cell``
    values (mirrors the driver's compare: sort columns by name, hash
    values)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(repr(x) for x in t))


def duckdb_views(sf_dir):
    """A DuckDB connection with each testdata table under ``sf_dir`` as a
    view named after itself."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare(spark, con, qfn, sql, sf_dir, cell=_strict_cell):
    """Raises AssertionError unless ``qfn`` over ``sf_dir`` and ``sql``
    on ``con`` give the same column names and the same rows of ``cell``
    values; returns the row count."""
    # several plans persist() intermediates by design and a returned
    # DataFrame cannot unpersist them itself; without this, a full
    # 448-entry sweep accumulates every cached frame in one session
    # (MEMORY_AND_DISK eviction keeps results correct but disk spill
    # grows unboundedly -- the r11 ADVICE item). Same isolation
    # bench.py applies.
    spark.catalog.clearCache()
    sdf = qfn(spark, sf_dir)
    scols = sdf.columns
    srows = [[r[c] for c in scols] for r in sdf.collect()]
    rel = con.sql(sql)
    dcols, drows = rel.columns, rel.fetchall()
    if sorted(scols) != sorted(dcols):
        raise AssertionError(f"columns differ: {sorted(scols)} vs {sorted(dcols)}")
    if len(srows) != len(drows):
        raise AssertionError(f"row count differs: {len(srows)} vs {len(drows)}")
    sn, dn = _rows(scols, srows, cell), _rows(dcols, drows, cell)
    bad = [(a, b) for a, b in zip(sn, dn) if a != b]
    if bad:
        raise AssertionError(f"{len(bad)} cell mismatches; first: {bad[:3]}")
    return len(srows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--first", type=int, default=50)
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    spark = build_session(app_name="strict-parity", shuffle_partitions=16)
    con = duckdb_views(args.sf)

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = list(qs)[: args.first] if not args.only else args.only

    failed = []
    for name in names:
        if name not in oracles:
            print(f"{name:28s} rows-only (no oracle) -- skipped")
            continue
        try:
            n = compare(spark, con, qs[name], oracles[name], args.sf)
            print(f"{name:28s} OK ({n} rows)")
        except Exception as e:  # noqa: BLE001 -- report-and-continue tool
            failed.append(name)
            print(f"{name:28s} FAIL: {str(e)[:300]}")

    print(f"\n{len(names) - len(failed)}/{len(names)} strict-green")
    if failed:
        print("failed:", failed)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
