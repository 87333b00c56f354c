#!/usr/bin/env python3
"""Checks which per-layer counters repeat exactly across runs of one seed.

    python3 perfbench/check_counters.py --seed 1 uba_dashboard retention_bulk

Runs each named workload twice with --trace 1 and the same seed, then
prints, per counter, both values and whether they are equal. A counter
that repeats exactly can be cited as a count; one that does not is
compared like a timing.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

COUNTERS = ["exec.jobs", "plan.exchanges", "plan.codegen_fallback_exprs",
            "retention.sort_fallback_tasks", "dedup.candidate_pairs",
            "shuffle.write_mb"]


def traced_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, str(Path(__file__).with_name("run.py")), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("workloads", nargs="+")
    a = ap.parse_args()
    for w in a.workloads:
        first, second = (traced_run(w, a.seed, a.seconds) for _ in range(2))
        for c in COUNTERS:
            x, y = first[c]["value"], second[c]["value"]
            print(f"{w:16s} {c:30s} {x!r:>22} {y!r:>22} "
                  f"{'repeats' if x == y else 'DRIFTS'}")


if __name__ == "__main__":
    main()
