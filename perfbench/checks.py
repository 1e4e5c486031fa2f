"""Output checks, made apart from Spark.

- ``QueryOracle``: each query's ``__spark_entry__.oracle_sql()`` entry,
  run by DuckDB over the same parquet files; results are cached per
  input digest and SQL text. Cells are compared bit-exactly by the cell
  rule of ``tools/strict_parity.py``: floats by their IEEE bytes, decimals
  as exact digits, no rounding.
- ``DailyOracle``: the fixture CTEs of ``__spark_entry__`` with the
  processing date pinned, run by DuckDB (cached per input digest, SQL
  text and day), against the partitions one daily cycle wrote, plus the
  properties the daily output must have.
- ``check_curation``: the curation ledger and curated shards against
  the document count and the pipeline's own observed counts.

Every check raises ``CheckFailed`` with a one-line reason.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import os
import pickle

import duckdb

from tools.strict_parity import _rows


class CheckFailed(Exception):
    pass


def canonical(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name; rows as sorted tuples of exact cells, as
    ``tools/strict_parity.py`` compares them."""
    return sorted(cols), _rows(cols, rows)


def compare(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> None:
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        raise CheckFailed(f"columns {gc} != {wc}")
    if len(gr) != len(wr):
        raise CheckFailed(f"{len(gr)} rows != {len(wr)}")
    bad = [(a, b) for a, b in zip(gr, wr) if a != b]
    if bad:
        raise CheckFailed(f"{len(bad)} cells differ; first row {bad[0][0]!r} != {bad[0][1]!r}")


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    cols = df.columns
    return canonical(cols, [[r[c] for c in cols] for r in df.collect()])


def _connect(sf_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _cached(connect, sql: str, path: str):
    """DuckDB's canonical rows for ``sql``, kept in the pickle ``path``
    (named by the input digest and the SQL text) once computed."""
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    rel = connect().sql(sql)
    want = canonical(rel.columns, rel.fetchall())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump(want, f)
    os.replace(tmp, path)
    return want


def _key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


class QueryOracle:
    def __init__(self, sf_dir: str, tables: list[str], cache_dir: str, oracle_sql: dict):
        self.sf_dir, self.tables, self.cache_dir = sf_dir, tables, cache_dir
        self.sql = oracle_sql
        self._con = None

    def _connect(self):
        if self._con is None:
            self._con = _connect(self.sf_dir, self.tables)
        return self._con

    def expected(self, name: str):
        """DuckDB's rows for ``name``, cached per input digest and SQL text."""
        if name not in self.sql:
            raise CheckFailed(f"no oracle_sql entry for {name}")
        sql = self.sql[name]
        return _cached(self._connect, sql, os.path.join(self.cache_dir, f"{name}-{_key(sql)}.pkl"))


_PARAMS = "params AS (SELECT MAX(sale_date) AS d FROM sales)"


class DailyOracle:
    """DuckDB's answer for one processing day of the daily DAG, compared
    with the partitions that day wrote under ``out_root``."""

    def __init__(self, sf_dir: str, cache_dir: str, oracle_sql: dict):
        self.con = _connect(sf_dir, ["lineitem", "part"])
        self.cache_dir = cache_dir
        self.alert_expected = None
        self.sql = {k: oracle_sql[k] for k in ("stage_sales", "dim_products", "reconcile")}
        for k, q in self.sql.items():
            if _PARAMS not in q:
                raise CheckFailed(f"oracle {k} no longer derives the date as {_PARAMS!r}")

    def _rows(self, sql: str):
        rel = self.con.sql(sql)
        return canonical(rel.columns, rel.fetchall())

    def _oracle(self, name: str, day: dt.date, drop_date: bool = True):
        """DuckDB's rows for one day, cached per input digest, SQL text
        and day: the seeds' day windows overlap from run to run."""
        q = self.sql[name].replace(_PARAMS, f"params AS (SELECT DATE '{day.isoformat()}' AS d)")
        sql = f"SELECT * EXCLUDE (date_key) FROM ({q})" if drop_date else q
        return _cached(lambda: self.con, sql, os.path.join(self.cache_dir, f"{name}-{day}-{_key(sql)}.pkl"))

    def _files(self, path: str, want):
        """The rows of the parquet files in ``path``; a partition that was
        never written (a day without rows) reads as empty."""
        if not glob.glob(f"{path}/*.parquet"):
            return want[0], []
        return self._rows(f"SELECT * FROM read_parquet('{path}/*.parquet', hive_partitioning = false)")

    def reconciled(self, out_root: str, day: dt.date, want):
        return self._files(f"{out_root}/processed/reconciled_inventory/date_key={day}", want)

    def check_stage(self, out_root: str, day: dt.date) -> None:
        want = self._oracle("stage_sales", day)
        compare(self._files(f"{out_root}/staging/pos_sales/date_key={day}", want), want)

    def check_dims(self, out_root: str, day: dt.date) -> None:
        want = self._oracle("dim_products", day, drop_date=False)
        compare(self._files(f"{out_root}/processed/dim_products", want), want)

    def check_reconcile(self, out_root: str, day: dt.date, top_k: int):
        """Oracle rows, one row per sku, the discrepancy identity; keeps the
        alert's expected count and top-k skus. Returns the rows."""
        want = self._oracle("reconcile", day)
        got = self.reconciled(out_root, day, want)
        compare(got, want)
        cols, rows = got
        row = [dict(zip(cols, r)) for r in rows]
        if len({r["sku"] for r in row}) != len(row):
            raise CheckFailed(f"{len(row)} rows but fewer skus on {day}")
        if any(r["discrepancy_amount"] != r["actual_closing_stock"]
               - (r["opening_stock"] - r["quantity_sold"]) for r in row):
            raise CheckFailed(f"a row breaks the discrepancy identity on {day}")
        disc = sorted((r for r in row if r["discrepancy_amount"] != 0),
                      key=lambda r: (-abs(r["discrepancy_amount"]), r["sku"]))
        self.alert_expected = (len(disc), [r["sku"] for r in disc[:top_k]])
        return got

    def check_alert(self, alert) -> None:
        if self.alert_expected is None:
            raise CheckFailed("no reconciled rows to check the alert against")
        n, skus = self.alert_expected
        if n == 0:
            if alert is not None:
                raise CheckFailed("alert raised on a fully reconciled day")
            return
        if alert is None or alert.count != n:
            raise CheckFailed(f"alert count {getattr(alert, 'count', None)} != {n}")
        got = [e["sku"] for e in alert.examples]
        if got != skus:
            raise CheckFailed(f"alert examples {got} != {skus}")


def check_curation(result: dict, n_docs: int) -> None:
    """``n_docs`` is the corpus size: the documents the pipeline does not
    hold out as its contamination benchmark."""
    con = duckdb.connect()
    counts = dict(con.sql(
        f"SELECT disposition, count(*) FROM read_parquet('{result['ledger']}/*/*.parquet', "
        f"hive_partitioning = true) GROUP BY 1"
    ).fetchall())
    if sum(counts.values()) != n_docs:
        raise CheckFailed(f"ledger holds {sum(counts.values())} docs of {n_docs}")
    curated = con.sql(
        f"SELECT count(*) FROM read_parquet('{result['curated']}/*/*.parquet')"
    ).fetchone()[0]
    if curated != counts.get("kept", 0):
        raise CheckFailed(f"{curated} curated rows != {counts.get('kept', 0)} kept")
    observed = result["metrics"]["ledger"]
    if observed["total"] != n_docs or observed["kept"] != curated:
        raise CheckFailed(f"observed ledger counts {observed} disagree with the files")
