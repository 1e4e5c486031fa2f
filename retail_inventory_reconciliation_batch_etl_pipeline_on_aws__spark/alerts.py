"""Alert sink (SURVEY.md SS2.2 K4; reference glue_job_2_reconcile.py:118-141).

The reference counts discrepancy rows, collects 5 examples, formats a
message, and publishes to SNS via boto3. That is driver-side control
logic, not a distributed operator -- here it is a pluggable protocol
(an in-memory test sink is built in; an SNS/webhook adapter slots in
without touching the jobs).

Fixes the reference's triple-recompute flaw (actions at ref :113, :119,
:125 with no cache): ``build_alert`` runs ONE action, the deterministic
top-k, and the discrepancy count rides it as an observed metric.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Protocol

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .plans.reconcile import top_discrepancies


@dataclass
class Alert:
    count: int
    examples: list[dict]

    def format(self) -> str:
        lines = [f"[inventory-reconciliation] {self.count} SKUs with discrepancies"]
        for row in self.examples:
            lines.append(
                f"  sku={row.get('sku')} name={row.get('product_name')} "
                f"expected={row.get('expected_closing_stock')} "
                f"actual={row.get('actual_closing_stock')} "
                f"discrepancy={row.get('discrepancy_amount')}"
            )
        return "\n".join(lines)


class AlertSink(Protocol):
    def publish(self, alert: Alert) -> None: ...


class CollectingSink:
    """Test double: keeps alerts in memory."""

    def __init__(self) -> None:
        self.alerts: list[Alert] = []

    def publish(self, alert: Alert) -> None:
        self.alerts.append(alert)


def build_alert(reconciled: DataFrame, k: int = 5) -> Alert | None:
    """Count + deterministic top-k examples; None when fully reconciled.

    One Spark job: the count is an ``Observation`` on ``reconciled``
    that rides the top-k ``collect()``. The top-k
    (TakeOrderedAndProject) consumes every row of its input, so the
    observed count is exact. ``reconciled`` should be re-read from the
    written output (the pipeline does this) or persisted, so the action
    does not recompute the join DAG (fixes SURVEY.md SS4.3.1).
    """
    obs = Observation("alert")
    observed = reconciled.observe(
        obs, F.count(F.when(F.col("discrepancy_amount") != 0, 1)).alias("n")
    )
    examples = [r.asDict() for r in top_discrepancies(observed, k).collect()]
    n = obs.get["n"]
    if n == 0:
        return None
    return Alert(count=n, examples=examples)


def throttle_alerts(
    alerts: DataFrame,
    key_col: str = "user_id",
    sec_col: str = "sec",
    order_col: str = "event_id",
    cooldown_s: int = 600,
) -> DataFrame:
    """Alert-storm suppression: per key, keep an alert iff it fires at
    least ``cooldown_s`` AFTER the last KEPT alert -- the greedy
    selection that turns a 10k-row error burst into one page per
    cooldown.

    This is genuinely NOT window-expressible: the decision chains off
    the last *kept* row, not the previous row (``lag`` spells the
    wrong thing -- a burst's rows are all within cooldown of their
    predecessor yet one per cooldown must survive). It is an ordered
    per-key scan.

    PYTHON-BOUNDARY SHAPE (r14 optimization round, guide §4): the
    original ``groupBy(key).applyInPandas`` spelling invoked the
    Python function ONCE PER KEY -- at sf0.1 that is 1,500 pandas
    DataFrame constructions, sorts and ``isin`` scans for 19,810 rows
    (measured 3.3 s, almost all per-group overhead). The same shuffle
    (one hash exchange on the key) now feeds a partition-level
    ``sortWithinPartitions(key, sec, order)`` + ``mapInPandas`` scan:
    whole Arrow batches cross the boundary (thousands of rows per
    call, not ~13), and the greedy recurrence walks each batch once,
    carrying (current key, last kept sec) across batch boundaries --
    a key's rows are contiguous inside its partition, so the carried
    state is exact. Same exchange count, same O(1) per-key state,
    identical kept set (pinned by the hypothesis python-greedy twin,
    the planted-burst test and the batch==stream parity suite).
    Deterministic: rows order by (sec, order_col) per key with the
    unique order column breaking timestamp ties.
    """
    import pandas as pd

    # all-NA keys collapse to ONE sentinel group, matching groupBy's
    # null-grouping semantics in the applyInPandas spelling
    na_key = object()

    def keep_stream(batches):
        cur_key = na_key  # sentinel never equals a real first key
        have_key = False
        last: int | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            kvals = pdf[key_col]
            keys = kvals.to_numpy(dtype=object, copy=True)
            keys[pd.isna(kvals).to_numpy()] = na_key
            secs = pdf[sec_col].to_numpy()
            mask = [False] * len(keys)
            for i, (k, sec) in enumerate(zip(keys, secs)):
                if not have_key or k != cur_key:
                    cur_key = k
                    have_key = True
                    last = None
                if last is None or int(sec) - last >= cooldown_s:
                    mask[i] = True
                    last = int(sec)
            yield pdf[mask]

    return (
        alerts.repartition(F.col(key_col))
        .sortWithinPartitions(key_col, sec_col, order_col)
        .mapInPandas(keep_stream, alerts.schema)
    )
