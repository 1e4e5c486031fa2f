"""Incremental JOIN-view maintenance via the classic delta rule.

Completes the engine's incremental-maintenance family (the idioms that
replace history rescans at 100 TB):

- mergeable AGGREGATE partials ........ ``queries.q_incremental_hourly_merge``
- mergeable DISTINCT sketches ......... ``queries.q_dau_sketch_merge``
- exact DISTINCT bitmaps .............. ``queries.q_dau_bitmap_merge``
- JOIN views (this module) ............ delta-join algebra

For an inner equi-join view V = A |><| B, when append-only batches
dA / dB arrive the view's increment is

    d(A |><| B) = (dA |><| B_old)  U  (A_old |><| dB)  U  (dA |><| dB)

and the refreshed view is V_old U d. The three delta terms are
pairwise disjoint (each output row pairs one A-row with one B-row, and
each of those lives in exactly one of {old, delta}), so the union is a
plain append -- no dedup pass needed.

Scale posture: a refresh scans ONLY the deltas plus key-lookups into
the stored sides. With the stored sides bucketed by the join key, the
two mixed terms are shuffle-free on the stored side, and dA |><| dB is
a join of two small batches (typically broadcast). A full A |><| B
recompute -- what the oracle does -- is the verification path, never
the production path.

Inner joins only: outer-join deltas need retractions (a B-side match
arriving late must RETRACT an earlier null-extended row), which is a
state store's job, not an append-only batch merge.

Reference anchor: the reference's per-day partition replace
(`dags/retail_pipeline_dag.py:19-41`) refreshes facts a partition at a
time; this is the same economics applied to a join view keyed by
something other than the partition date.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def _check_frames(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: Sequence[str],
) -> None:
    """Fail fast on the two shapes that would otherwise surface later
    as an ambiguous-column or unionByName error: payload-column overlap
    across the A/B sides (checked on ALL four frames, since a collision
    present only on a delta slips past an old-sides-only check), and a
    delta whose schema drifted from its own old side."""
    for side, old, delta in (("A", a_old, a_delta), ("B", b_old, b_delta)):
        if set(old.columns) != set(delta.columns):
            raise ValueError(
                f"join_view_delta: {side}-side delta columns "
                f"{sorted(delta.columns)} differ from its stored side "
                f"{sorted(old.columns)}"
            )
    a_cols = set(a_old.columns) | set(a_delta.columns)
    b_cols = set(b_old.columns) | set(b_delta.columns)
    overlap = (a_cols & b_cols) - set(on)
    if overlap:
        raise ValueError(
            f"join_view_delta needs disjoint payload columns; both sides "
            f"carry {sorted(overlap)} -- alias before maintaining the view"
        )


def join_view_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: str | Sequence[str],
) -> DataFrame:
    """The view increment d(A |><| B) for append-only batches dA, dB.

    Returns exactly the join-output rows involving at least one delta
    row; append it to the stored view (``join_view_refresh``) to
    complete the refresh. Old sides appear only as the probe side of
    key-lookup joins -- never rescanned in full against each other.
    """
    keys = [on] if isinstance(on, str) else list(on)
    _check_frames(a_old, a_delta, b_old, b_delta, keys)
    return (
        a_delta.join(b_old, on=keys, how="inner")
        .unionByName(a_old.join(b_delta, on=keys, how="inner"))
        .unionByName(a_delta.join(b_delta, on=keys, how="inner"))
    )


def join_view_refresh(view_old: DataFrame, delta: DataFrame) -> DataFrame:
    """V_new = V_old U d -- a plain append, because the delta terms are
    disjoint from the old view by construction (see module docstring)."""
    return view_old.unionByName(delta)
