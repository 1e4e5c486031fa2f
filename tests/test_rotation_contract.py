"""Pins the attestation-window rotation contract (no Spark needed).

The window ordering in ``__spark_entry__.queries()`` is derived from
the CORRECTNESS artifacts by ``tools/rotation_check.order``;
``rotation_check.check`` recomputes the staleness facts from the same
artifacts, and this wrapper makes any mis-queue a test failure instead
of a wasted driver round -- today's and, with simulated artifacts, the
next round's.
"""

import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import __spark_entry__ as entry
from rotation_check import REPO, WINDOW, check, last_green, order


def test_window_holds_least_recently_attested():
    problems = check(list(entry.queries()), set(entry.oracle_sql()))
    assert not problems, "\n".join(problems)


def test_window_is_exactly_full():
    """Fewer than 50 attestable entries up front would waste driver
    slots; the driver never reads past 50. A window slot is well spent
    on a paired entry (full hash compare) or -- the rule-3 exception --
    on a rows-only entry that has NEVER produced a driver row (its
    one-time ``spark_rows > 0`` check; r10 judge item #4)."""
    from rotation_check import last_attested

    window = list(entry.queries())[:WINDOW]
    paired = set(entry.oracle_sql())
    green, red = last_attested()
    assert len(window) == WINDOW
    for q in window:
        assert q in paired or (q not in green and q not in red), (
            f"{q}: rows-only entry with prior driver evidence in the window"
        )


def test_artifacts_are_readable_and_nonempty():
    green = last_green()
    assert len(green) >= 50  # at least one full driver round recorded


def test_red_pinned_entry_is_exempt_from_staleness_inversion(tmp_path):
    """An entry whose LAST driver verdict was red is correctly pinned
    at the window front even if its last GREEN round is fresher than
    an outside entry's (the lm_score precedent)."""
    import json

    from tools.rotation_check import check

    def art(rnd, rows):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps(
                {
                    q: {
                        "rows_match": True,
                        "schema_match": True,
                        "hash_match": ok,
                    }
                    for q, ok in rows.items()
                }
            )
        )

    # x: green in r06, red in r07 (front-pinned for r08);
    # y: green only in r05, sits OUTSIDE the window.
    art(5, {"y": True})
    art(6, {"x": True})
    art(7, {"x": False})
    queries = ["x"] + [f"f{i}" for i in range(49)] + ["y"]
    paired = set(queries)
    problems = check(queries, paired, repo=str(tmp_path))
    assert not [p for p in problems if p.startswith("x:")], problems


def _artifact(repo, rnd, verdicts):
    """``CORRECTNESS_r<rnd>.json`` in ``repo``: name -> green/red row."""
    rows = {
        q: {"rows_match": True, "schema_match": True, "hash_match": ok}
        for q, ok in verdicts.items()
    }
    (repo / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def test_next_artifact_needs_no_requeue(tmp_path):
    """The driver greens today's window in the next round: the order
    derived from the artifacts then passes ``check`` with no code edit,
    while today's order, left in place, would be wrong in every slot."""
    repo = Path(REPO)
    for path in repo.glob("CORRECTNESS_r*.json"):
        shutil.copy(path, tmp_path)
    names, paired = list(entry.queries()), set(entry.oracle_sql())
    nxt = max(int(p.name[13:-5]) for p in repo.glob("CORRECTNESS_r*.json")) + 1
    _artifact(tmp_path, nxt, {q: True for q in names[:WINDOW]})

    assert len(check(names, paired, repo=str(tmp_path))) >= WINDOW
    derived = order(names, paired, repo=str(tmp_path))
    problems = check(derived, paired, repo=str(tmp_path))
    assert not problems, "\n".join(problems)
    assert not set(derived[:WINDOW]) & set(names[:WINDOW])


def test_order_spends_an_overfull_window_on_never_attested(tmp_path):
    """More never-attested entries than slots: they fill the window in
    definition order and the excess leads the next round's queue, ahead
    of every attested entry."""
    old = [f"old{i}" for i in range(10)]
    new = [f"new{i}" for i in range(WINDOW + 7)]
    _artifact(tmp_path, 3, {q: True for q in old})
    names = old[:5] + new + old[5:]
    derived = order(names, set(names), repo=str(tmp_path))
    assert derived == new + old
    assert not check(derived, set(names), repo=str(tmp_path))


def test_order_puts_a_red_entry_ahead_of_stale_greens(tmp_path):
    """An entry whose last verdict was red leads the paired entries even
    though its last green round is the freshest; rows-only entries with
    driver evidence go last, and one the driver never ran goes first."""
    paired = [f"p{i}" for i in range(WINDOW + 5)]
    _artifact(tmp_path, 5, {q: True for q in paired + ["seen"]})
    _artifact(tmp_path, 6, {q: True for q in paired[: WINDOW + 2]})
    _artifact(tmp_path, 7, {"p0": True})
    _artifact(tmp_path, 8, {"p0": False})
    names = ["seen"] + paired + ["unseen"]
    derived = order(names, set(paired), repo=str(tmp_path))
    assert derived[:2] == ["unseen", "p0"]
    assert derived[2:5] == paired[WINDOW + 2 :]
    assert derived[-1] == "seen"
    assert not check(derived, set(paired), repo=str(tmp_path))
