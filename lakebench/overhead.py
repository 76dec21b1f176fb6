"""Tracing overhead: traced minus untraced, per end-to-end metric.

    python3 lakebench/overhead.py --workload corpus_dedup --seed 1 --seconds 10

Runs the benchmark twice on the same seed, once untraced and once
traced, one after the other, and prints both end-to-end readings and
their difference. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys


def end_to_end(workload: str, seed: int, seconds: int, trace: int) -> dict:
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    out = subprocess.run(
        [sys.executable, run, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True).stdout
    line = next(x for x in out.splitlines() if x.startswith("end-to-end: "))
    return json.loads(line[len("end-to-end: "):])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    plain = end_to_end(args.workload, args.seed, args.seconds, 0)
    traced = end_to_end(args.workload, args.seed, args.seconds, 1)
    for name, value in plain.items():
        diff = traced[name] - value
        print(f"{name}: untraced {value:.4f} traced {traced[name]:.4f} "
              f"overhead {diff:+.4f} ({diff / value:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
