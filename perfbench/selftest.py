"""Self-test of the benchmark: every check, on right and on wrong outputs.

    python3 perfbench/selftest.py

1. Each check is shown to reject a wrong output and accept the right
   one, with DuckDB alone: a float one ulp off, a reconciled row with a
   broken discrepancy, a duplicated sku, a wrong alert, a ledger that
   lost a document, a curated zone that lost a row.
2. One cycle of each workload runs through ``run.py`` at sf0.001 (a
   separate input directory), for both ``--trace 0`` and ``--trace 1``,
   and its JSON line must name exactly the metrics in ``BENCHMARK.json``.
   It must report ``correct``: the only failing operations allowed are
   ``run.KNOWN_FAILING`` (``text_stats``, see README.md), each failing in
   every cycle or in none.

Exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import duckdb  # noqa: E402

import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402

SF = 0.001


def expect_fail(what: str, fn) -> None:
    try:
        fn()
    except checks.CheckFailed as e:
        print(f"ok   rejects {what}: {e}")
        return
    raise SystemExit(f"FAIL check accepted {what}")


def negative_checks(tmp: str) -> None:
    import __spark_entry__ as entry

    # bit-exact comparison
    x = 0.86875
    y = struct.unpack("<d", struct.pack("<q", struct.unpack("<q", struct.pack("<d", x))[0] - 1))[0]
    good = checks.canonical(["a", "b"], [(1, x)])
    checks.compare(good, checks.canonical(["b", "a"], [(x, 1)]))
    expect_fail("a float one ulp off", lambda: checks.compare(good, checks.canonical(["a", "b"], [(1, y)])))
    expect_fail("a missing row", lambda: checks.compare(good, checks.canonical(["a", "b"], [])))

    # the daily oracle: write DuckDB's own answer as the "pipeline output"
    manifest, _ = datagen.ensure(os.path.join(HERE, ".data", f"sf{SF}"), SF)
    sf_dir = os.path.join(HERE, ".data", f"sf{SF}", "kcopies")
    import datetime as dt

    day = dt.date.fromisoformat(manifest["last_sale_date"])
    oracle = checks.DailyOracle(sf_dir, os.path.join(tmp, "oracle"), entry.oracle_sql())
    con = oracle.con
    pin = f"params AS (SELECT DATE '{day}' AS d)"
    out = os.path.join(tmp, "daily")

    def write(zone: str, sql: str) -> None:
        os.makedirs(os.path.join(out, zone), exist_ok=True)
        con.sql(sql).write_parquet(os.path.join(out, zone, "part-0.parquet"))

    def q(name: str) -> str:
        return oracle.sql[name].replace(checks._PARAMS, pin)

    write(f"staging/pos_sales/date_key={day}", f"SELECT * EXCLUDE (date_key) FROM ({q('stage_sales')})")
    write("processed/dim_products", q("dim_products"))
    recon = f"processed/reconciled_inventory/date_key={day}"
    write(recon, f"SELECT * EXCLUDE (date_key) FROM ({q('reconcile')})")
    oracle.check_stage(out, day)
    oracle.check_dims(out, day)
    oracle.check_reconcile(out, day, 5)
    n, skus = oracle.alert_expected
    from types import SimpleNamespace as NS

    oracle.check_alert(NS(count=n, examples=[{"sku": s} for s in skus]))
    print(f"ok   accepts the oracle's own daily output for {day} ({n} discrepancies)")
    expect_fail("a wrong alert count", lambda: oracle.check_alert(NS(count=n + 1, examples=[])))
    expect_fail("no alert on a discrepant day", lambda: oracle.check_alert(None))

    good_rows = f"SELECT * EXCLUDE (date_key) FROM ({q('reconcile')})"
    write(recon, f"SELECT * REPLACE (discrepancy_amount + 1 AS discrepancy_amount) FROM ({good_rows})")
    expect_fail("a broken discrepancy", lambda: oracle.check_reconcile(out, day, 5))
    write(recon, f"SELECT * FROM ({good_rows}) UNION ALL (SELECT * FROM ({good_rows}) LIMIT 1)")
    expect_fail("a duplicated sku", lambda: oracle.check_reconcile(out, day, 5))
    write("processed/dim_products", f"SELECT * FROM ({q('dim_products')}) LIMIT 1")
    expect_fail("a truncated dim", lambda: oracle.check_dims(out, day))

    # curation: a ledger and curated zone that disagree
    cur = os.path.join(tmp, "curation")
    for zone in ("ledger/disposition=kept", "ledger/disposition=duplicate", "curated/split=train"):
        os.makedirs(os.path.join(cur, zone))
    duckdb.sql("SELECT range AS doc_id FROM range(5)").write_parquet(f"{cur}/ledger/disposition=kept/a.parquet")
    duckdb.sql("SELECT range AS doc_id FROM range(2)").write_parquet(f"{cur}/ledger/disposition=duplicate/a.parquet")
    duckdb.sql("SELECT range AS doc_id FROM range(5)").write_parquet(f"{cur}/curated/split=train/a.parquet")
    res = {"ledger": f"{cur}/ledger", "curated": f"{cur}/curated",
           "metrics": {"ledger": {"total": 7, "kept": 5}}}
    checks.check_curation(res, 7)
    print("ok   accepts a consistent curation ledger")
    expect_fail("a ledger that lost a document", lambda: checks.check_curation(res, 8))
    duckdb.sql("SELECT range AS doc_id FROM range(4)").write_parquet(f"{cur}/curated/split=train/a.parquet")
    expect_fail("a curated zone that lost a row", lambda: checks.check_curation(res, 7))


def one_cycle(workload: str, trace: int, names: list[str]) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "0", "--trace", str(trace), "--sf", str(SF)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"FAIL {' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if sorted(res) != ["attempted", "correct", "failed", "metrics"] or not res["correct"]:
        raise SystemExit(f"FAIL {workload}: malformed result {res}")
    if sorted(res["metrics"]) != sorted(names):
        raise SystemExit(f"FAIL {workload} trace={trace}: metrics {sorted(res['metrics'])} != {sorted(names)}")
    ops = run.WORKLOADS[workload][0]
    cycles = res["attempted"] // len(ops)
    if res["failed"] % cycles or res["failed"] // cycles > len(run.KNOWN_FAILING & set(ops)):
        raise SystemExit(f"FAIL {workload}: {res['failed']} of {res['attempted']} operations failed:\n"
                         + out.stderr[-3000:])
    print(f"ok   {workload} trace={trace}: {res['attempted']} attempted, {res['failed']} failed, "
          f"{len(res['metrics'])} metrics")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(HERE, ".work"))
    try:
        negative_checks(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            one_cycle(w["name"], trace, [m["name"] for m in bench[key]])
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
