"""Do two sets of runs of one commit agree within the benchmark's bounds?

    python3 perfbench/steadiness.py [--runs 10] [--workloads query_mix ...]

Runs ``run.py`` for every workload kept in ``BENCHMARK.json``, ``--runs``
times per set with seeds 1..N (set A) and 101..100+N (set B), one run at
a time. For each end-to-end metric and workload it prints the median and
quartiles of each set, the spread (interquartile range over median) of
each set, and whether the medians and the spreads keep within the
metric's bound (``setup_s`` only on its medians, see README.md). It also
checks that the share of failed operations is the same in every run.
Exits 1 if anything disagrees.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, command: list[str]) -> dict:
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()

    ok = True
    for w in args.workloads:
        sets = []
        for base in (1, 101):
            runs = []
            for seed in range(base, base + args.runs):
                r = one_run(w, seed, bench["run_seconds"], bench["command"])
                runs.append(r)
                print(f"{w} seed {seed}: " + ", ".join(
                    f"{m}={v['value']:.4g}" for m, v in r["metrics"].items())
                    + f", failed {r['failed']}/{r['attempted']}", flush=True)
            sets.append(runs)
        shares = {r["failed"] / r["attempted"] for runs in sets for r in runs}
        if len(shares) != 1:
            ok = False
        print(f"\n{w}: failed share per run {sorted(shares)}"
              + ("" if len(shares) == 1 else "  <-- differs"))
        print(f"{'metric':18s} {'set':3s} {'q1':>10s} {'median':>10s} {'q3':>10s} {'spread':>7s}  bound")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for i, runs in enumerate(sets):
                q1, med, q3 = quartiles([r["metrics"][name]["value"] for r in runs])
                spread = (q3 - q1) / med
                meds.append(med)
                # setup_s is held to its bound only between the two medians:
                # one set-up per run is a single sample, and its spread is
                # printed but not gated
                flag = "" if name == "setup_s" or spread <= bound else "  <-- spread above bound"
                ok &= not flag
                print(f"{name:18s} {'AB'[i]:3s} {q1:10.4f} {med:10.4f} {q3:10.4f} {spread:7.3f}  {bound}{flag}")
            worse = (meds[1] - meds[0]) / meds[0]
            if m["better"] == "higher":
                worse = -worse
            agree = worse <= bound
            ok &= agree
            print(f"{'':18s} B vs A: {worse:+.3f} of median -> {'agree' if agree else 'DISAGREE'}")
        print()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
