"""Attestation-window rotation: the order rules and their validator.

The driver records correctness for only the FIRST 50 ``queries()``
entries each round, so the dict's ordering is a contract: the window
must hold the least-recently-attested oracle-paired entries.
``order`` derives that ordering from the ``CORRECTNESS_r*.json``
artifacts actually on disk (``__spark_entry__.queries()`` is built by
it), and ``check`` recomputes, from the same artifacts, when each entry
was last green and checks:

1. every oracle-paired entry with NO green row anywhere sits inside
   the window (never-attested first -- the whole point of rotating);
   when a round adds MORE never-attested entries than the window
   holds, the whole window must be spent on them and the excess waits
   just past the boundary, leading the next round's queue;
2. no entry in the window is FRESHER than an oracle-paired entry
   outside it (stalest-first, with the explicit exception of red rows:
   a red entry is pinned at the front regardless);
3. rows-only entries (no oracle) sit outside the window -- attesting
   one would waste a slot on a weaker rows-only check -- EXCEPT a
   rows-only entry with NO driver row in any artifact (never executed
   by the driver at all): that one earns exactly one slot for its
   ``spark_rows > 0`` evidence, after which it never re-enters (the
   r10 judge item: 16 rows-only entries had no evidence they even
   execute at sf0.01). These count as never-attested for rule 1's
   over-full accounting.

Run directly (``python tools/rotation_check.py``) or via the pytest
wrapper in ``tests/test_rotation_contract.py``.
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def last_attested(repo: str = REPO) -> tuple[dict[str, int], dict[str, int]]:
    """(last_green, last_red): query name -> highest round with a
    fully-green row (rows+schema+hash for oracle-paired entries;
    rows-only rows count too -- the driver records what it can) and
    highest round with a red row."""
    green: dict[str, int] = {}
    red: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path)[13:-5])
        try:
            with open(path) as f:
                d = json.load(f)
        except Exception:  # noqa: BLE001 -- tolerate a malformed artifact
            continue
        for q, row in d.items():
            if not isinstance(row, dict):
                continue
            ok = row.get("rows_match") and row.get("schema_match") is not False and (
                row.get("hash_match") is not False
            )
            (green if ok else red)[q] = max((green if ok else red).get(q, -1), rnd)
    return green, red


def order(names: list[str], paired: set[str], repo: str = REPO) -> list[str]:
    """``names`` stably sorted into the attestation order ``check``
    accepts: never-attested entries (paired ones with no green row,
    rows-only ones with no driver row at all), then paired entries whose
    last driver verdict was red, then the other paired entries by their
    last green round, oldest first, then rows-only entries that already
    have driver evidence."""
    green, red = last_attested(repo)

    def rank(q: str) -> tuple[int, int]:
        if q not in green and (q in paired or q not in red):
            return (0, 0)
        if q not in paired:
            return (3, 0)
        if red.get(q, -1) >= green[q]:
            return (1, 0)
        return (2, green[q])

    return sorted(names, key=rank)


def last_green(repo: str = REPO) -> dict[str, int]:
    """Back-compat wrapper: just the green map."""
    return last_attested(repo)[0]


def check(queries: list[str], oracle_paired: set[str], repo: str = REPO) -> list[str]:
    """Returns a list of violations (empty == rotation contract holds)."""
    green, red = last_attested(repo)
    window = queries[:WINDOW]
    window_set = set(window)
    problems: list[str] = []

    paired_outside = [q for q in queries[WINDOW:] if q in oracle_paired]
    # never-attested = no green row anywhere for paired entries, plus
    # rows-only entries with NO driver row at all (not even a red
    # no_oracle row) -- those earn their one spark_rows>0 slot (rule 3
    # exception)
    never_attested_set = {
        q
        for q in queries
        if (q in oracle_paired and q not in green)
        or (q not in oracle_paired and q not in green and q not in red)
    }
    never_attested = [q for q in queries if q in never_attested_set]
    if len(never_attested) > WINDOW:
        # more fresh entries than slots (a round can add > WINDOW
        # paired queries): the best any ordering can do is fill the
        # whole window with never-attested entries; the excess waits
        # just past the boundary and leads the next round's queue.
        for q in window:
            if q not in never_attested_set:
                problems.append(
                    f"{q}: window slot not spent on one of the "
                    f"{len(never_attested)} never-attested entries"
                )
        # the excess must sit CONTIGUOUSLY just past the boundary so it
        # mechanically leads the next round's queue -- an ordering that
        # interleaves stale greens ahead of the excess would otherwise
        # pass (r9 ADVICE item); membership is tested against the
        # never_attested set itself, not re-derived from
        # oracle_paired/green, so a previously-attested RED entry in
        # the excess zone is correctly flagged (r10 ADVICE item)
        excess = len(never_attested) - WINDOW
        for q in queries[WINDOW : WINDOW + excess]:
            if q not in never_attested_set:
                problems.append(
                    f"{q}: stale/attested entry interleaved ahead of the "
                    f"{excess} excess never-attested entries at the boundary"
                )
    else:
        for q in paired_outside:
            if q not in green:
                problems.append(
                    f"{q}: oracle-paired and never driver-green, but "
                    "outside the window"
                )
        for q in queries[WINDOW:]:
            if q in never_attested_set and q not in oracle_paired:
                problems.append(
                    f"{q}: rows-only entry never executed by the driver, "
                    "but outside the window (rule 3 exception unspent)"
                )

    # staleness inversion: something outside is staler than the
    # freshest windowed entry that has ever been green -- EXCEPT an
    # entry whose most recent attestation was RED: those are correctly
    # pinned at the front regardless of when they were last green (the
    # lm_score precedent; the module docstring's rule 2 exception)
    if paired_outside:
        oldest_outside = min(green.get(q, -1) for q in paired_outside)
        for q in window:
            if q not in oracle_paired:
                continue
            if red.get(q, -1) >= green.get(q, -1):
                continue  # last driver verdict was red: front-pin is correct
            if green.get(q, -1) > oldest_outside:
                problems.append(
                    f"{q}: green in r{green[q]} yet windowed ahead of an entry "
                    f"last green in r{oldest_outside}"
                )

    for q in window_set - oracle_paired:
        if q in never_attested_set:
            continue  # rule 3 exception: first-ever spark_rows>0 slot
        problems.append(f"{q}: rows-only entry occupies an attested-window slot")
    return problems


def main() -> int:
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    qs = list(entry.queries())
    paired = set(entry.oracle_sql())
    problems = check(qs, paired)
    for p in problems:
        print("VIOLATION:", p)
    print(f"{len(qs)} entries, window={WINDOW}, "
          f"{len(paired)} oracle-paired, {len(problems)} violations")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
