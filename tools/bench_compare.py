"""Longitudinal bench discipline (VERDICT r4 item 5), automated.

Compares a fresh ``bench.py`` run (or a given JSON line) against the
FLOOR of every recorded ``BENCH_r*.json``: each query's first/best
recorded steady-state time. Flags anything over ``--ratio`` (default
2.0) of its floor -- the judge's regression bar -- and prints a table.

    python tools/bench_compare.py               # run bench now, compare
    python tools/bench_compare.py --json '...'  # compare a recorded line
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Floor-reset rationales (VERDICT r5 item 4): recorded reasons why a
#: query's oldest floor is not a like-for-like bar. Printed with the
#: table so the watchlist judgment travels with the numbers.
#: RESOLVED in r6: the persistent watchlist gap (sim_topk 1.38x,
#: events_sessionize 1.34x, stock_asof 1.28x vs their r1 floors) was
#: never host variance -- it was CACHE-ACCUMULATION interference in
#: the bench harness itself: the old round-robin sweep left every
#: persisting query's frames resident across all ~33 queries, and the
#: memory pressure inflated mid-list queries (sessionize measured
#: 1.03s interleaved vs 0.46s isolated, identical plan). bench.py now
#: isolates each query (clearCache between blocks + an untimed JVM
#: warm phase); with that, all three run AT or BELOW their r1 floors
#: (sim_topk 1.00x, events_sessionize 0.88x, stock_asof 0.95x).
FLOOR_NOTES = {
    "shingle_containment": (
        "r10 made the r8 prefix routing DF-AWARE (VERDICT r9 item 2): "
        "a 1-row max-shingle-DF gate (~0.4s warm) picks the raw "
        "shared-shingle join when the corpus is benign (max DF <= 32; "
        "this generator measures 25 at sf0.1) and the PPJoin+ prefix "
        "filter when any shingle is hot. Solo re-measure: 2.25s best "
        "vs the 1.88s pre-routing floor (1.2x, the gate's cost) vs "
        "3.82s always-prefix in r9. Oracle unchanged on both routes; "
        "the planted boilerplate corpus (DF 40 > gate) still routes "
        "prefix and collapses 780 raw candidates to 0."
    ),
    "image_dims_jpeg": (
        "r11 bench tail: 24.28s on the very FIRST execution vs 0.705s "
        "steady-state -- a 34x cold/warm spread from one-time Python "
        "worker spin-up + JFIF synthesis/decode module import inside "
        "the Arrow-batched mapInPandas stage. bench.py's untimed "
        "warmup absorbs it in recorded floors, but any harness that "
        "times a single cold run (driver smoke, ad-hoc profiling) "
        "will read it as a regression that is not there. Not a scale "
        "concern: the stage is narrow and the cost is per-worker, "
        "not per-row."
    ),
    "simhash": (
        "floor 0.11s is pure scheduling territory: the plan is one "
        "corpus scan + HOF fold with best-of readings ranging "
        "0.18-0.27s across r11/r12 solo sessions, identical plan. A "
        "sub-0.3s query cannot regress meaningfully against a 0.11s "
        "floor -- read ratios here as task-launch jitter unless the "
        "plan gains a node."
    ),
    "token_dist_drift": (
        "FLOOR SUPERSEDED in r13 (see FLOOR_RESETS): the 0.62s r5 "
        "floor read 1.9-2.0x in every solo session across r11/r12 "
        "with a byte-identical plan -- the re-validation protocol's "
        "exact trigger. The bar is now the r11+ best steady-state."
    ),
    "minhash_pairs": (
        "PLAN REPLACED in r13: the queries() entry moved from the "
        "xxhash64 hash family to the oracle-pairable pinned "
        "universal-hash family over md5 hex-fold shingles (r12 "
        "verdict item #3) -- md5 per distinct shingle costs more than "
        "xxhash64, bought hash-checked driver evidence. Pre-r13 "
        "floors compare a different plan."
    ),
    "embed_neardup_lsh": (
        "SELECTIVITY, not speed (r13 ADVICE item #1): at the shipped "
        "cos>=0.45 threshold (~63 deg) on this isotropic corpus the "
        "6x3 sign-RP tables admit ~55% of all pairs as candidates -- "
        "the exact HOF verify keeps it correct and locally fast "
        "(4.3s solo) but effectively O(n^2) pairs verified. The "
        "threshold is data-driven: the synthetic embeddings' max "
        "cosine is ~0.5-0.6, so any higher bar yields an empty (thus "
        "evidence-free) result. A production corpus with real "
        "near-dups runs cos>=0.9 where the same construction prunes "
        "(background/table 0.125 vs true-pair 0.63); scale runs at "
        "low thresholds must grow n_planes ~log(n) -- the dial is a "
        "parameter, the quadratic-at-0.45 behavior is recorded here "
        "and in PLANS.md so it cannot surprise."
    ),
    "measure_correlations": (
        "r9 observation: the code is unchanged since its r8 floor "
        "(0.343s, driver host) but mid-round re-measures on a busy "
        "host ranged 0.7-1.3s -- the query is one global 15-aggregate "
        "DECIMAL(38,0) pass whose final single-partition reduce is "
        "acutely sensitive to CPU contention. Same plan, same values; "
        "treat ratios vs this floor as host-load variance unless the "
        "plan changes."
    ),
}

#: Floor RE-VALIDATION protocol (r12 verdict item #7): a FLOOR_NOTE
#: explains a near-2x row, but a note that recurs round after round is
#: the watchlist accreting permanent noise. The rule: when a query
#: reads > 1.7x its floor in TWO consecutive solo sessions with a
#: byte-identical plan, the old floor is declared unreproducible on
#: this host and RE-RECORDED -- ``floors()`` ignores artifacts before
#: ``from_round`` for that query, so the bar becomes the best
#: steady-state the current host can actually reproduce. The
#: supersession is recorded here (query -> (from_round, rationale)),
#: never silently: the old number stays in the git-tracked artifacts.
FLOOR_RESETS: dict[str, tuple[int, str]] = {
    "minhash_pairs": (
        13,
        "not a re-validation but a PLAN REPLACEMENT: r13 moved the "
        "entry to the pinned universal-hash family (md5 hex-fold "
        "shingles) so it could be oracle-paired; pre-r13 floors timed "
        "the xxhash64 family, a different plan. The floor re-bases at "
        "the new plan's first recorded steady-state."
    ),
    "token_dist_drift": (
        11,
        "0.620s was recorded in the light-list r5 round and never "
        "reproduced since: r11 read 1.19s (1.92x), both r12 solo "
        "sessions read 1.19-1.24s (1.9-2.0x), plan byte-identical "
        "since r5 (one corpus tokenize + two small aggregates). Two "
        "consecutive >1.7x solo sessions with an unchanged plan is "
        "the re-validation trigger; floor re-bases to the r11+ best."
    ),
}


def _unwrap(d: dict) -> dict:
    """Driver BENCH_r*.json artifacts wrap bench.py's line under
    'parsed' as a python-repr string; accept that, a JSON string, or
    the bare line."""
    import ast

    if "queries" in d:
        return d
    p = d.get("parsed")
    if isinstance(p, str):
        try:
            return json.loads(p)
        except json.JSONDecodeError:
            return ast.literal_eval(p)
    if isinstance(p, dict):
        return p
    # r5/r6 artifacts: parsed is null because the one-line JSON outgrew
    # the driver's bounded stdout-tail capture (fixed in r7 by moving
    # runs/warmup to stderr). The per-query RUN LISTS survive inside
    # the truncated tail; salvage min-of-runs as that round's
    # steady-state floor. The `"name": [floats]` shape only occurs in
    # the runs dict, so the regex cannot match queries/warmup scalars.
    import re

    tail = d.get("tail") or ""
    salvaged = {
        name: min(float(x) for x in nums.split(","))
        for name, nums in re.findall(
            r'"([a-z0-9_]+)": \[([0-9. ,]+)\]', tail
        )
        if name != "load_avg"
    }
    return {"queries": salvaged} if salvaged else {}


def floors() -> dict[str, float]:
    out: dict[str, float] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json"))):
        try:
            d = _unwrap(json.load(open(path)))
            # BENCH_r{N}.json / BENCH_r{N}_solo.json -> N; inside the
            # try so a scratch copy with a non-numeric suffix is
            # skipped like a malformed payload (r13 ADVICE item #3)
            rnd = int(os.path.basename(path)[7:].split(".")[0].split("_")[0])
        except Exception:  # noqa: BLE001 -- tolerate a malformed artifact
            continue
        for q, t in (d.get("queries") or {}).items():
            reset = FLOOR_RESETS.get(q)
            if reset and rnd < reset[0]:
                continue  # superseded floor (re-validation protocol)
            if isinstance(t, (int, float)):
                out[q] = min(out.get(q, float("inf")), float(t))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ratio", type=float, default=2.0)
    ap.add_argument("--json", default=None, help="bench JSON line to compare")
    args = ap.parse_args()

    if args.json:
        current = _unwrap(json.loads(args.json))
    else:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True,
            text=True,
            check=True,
        )
        current = json.loads(proc.stdout.strip().splitlines()[-1])

    fl = floors()
    bad = []
    ratios = []
    print(f"{'query':26s} {'now':>7s} {'floor':>7s} {'ratio':>6s}")
    for q, t in current["queries"].items():
        f = fl.get(q)
        if f is None:
            print(f"{q:26s} {t:7.3f} {'--':>7s} {'new':>6s}")
            continue
        r = t / f if f > 0 else float("inf")
        ratios.append(r)
        flag = " <-- REGRESSION" if r > args.ratio else ""
        note = FLOOR_NOTES.get(q)
        note_s = f"  [{note}]" if note and r > 1.25 else ""
        print(f"{q:26s} {t:7.3f} {f:7.3f} {r:6.2f}{flag}{note_s}")
        if r > args.ratio:
            bad.append(q)
    # the summary the per-round verdict computes by hand: geomean of
    # the vs-floor ratios (whole-surface drift, robust to one outlier)
    # plus the worst row -- a geomean near 1 with high load is the
    # co-tenant-noise signature; a shifted geomean at low load is real
    if ratios:
        import math

        geo = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
        print(
            f"\nvs floors: geomean {geo:.2f}, max {max(ratios):.2f} "
            f"over {len(ratios)} shared queries; "
            f"{len(bad)} over {args.ratio}x"
        )
    if bad:
        print(f"{len(bad)} queries over {args.ratio}x floor: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
