#!/usr/bin/env python3
"""Show that each correctness check can fail.

Runs the benchmark once per perturbation, each of which corrupts one
engine output before the check sees it, and asserts that the run then
reports ``"correct": false``:

- swap_schedule:    two adjacent scheduled URLs of crawl round 1 swapped
- drop_seen:        one row of the crawl's seen table dropped
- change_query_row: one row of q1_pricing_summary's result changed

    python3 perfbench/selftest.py [--seed 1]

Exits 0 when every perturbation was caught.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

CASES = [
    ("crawl", "swap_schedule"),
    ("crawl", "drop_seen"),
    ("query_suite", "change_query_row"),
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    missed = 0
    for workload, perturb in CASES:
        out = subprocess.run(
            [sys.executable, run, "--workload", workload, "--seed", str(args.seed),
             "--seconds", "1", "--trace", "0", "--perturb", perturb],
            capture_output=True, text=True, check=True,
        )
        correct = json.loads(out.stdout.strip().splitlines()[-1])["correct"]
        caught = correct is False
        missed += not caught
        print(f"{workload:12} {perturb:17} {'caught' if caught else 'MISSED'}")
    return 1 if missed else 0


if __name__ == "__main__":
    sys.exit(main())
