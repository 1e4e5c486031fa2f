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
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation

Observed = dict[str, Any]


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
            # cut their lineage); reading ``frame`` again raises
            # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
            frame._jdf.logicalPlan().rdd().unpersist(False)
        frame, observed, owned = new, new_observed, True
        if fired:
            return frame, True
    return frame, False
