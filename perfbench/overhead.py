#!/usr/bin/env python3
"""Tracing overhead of one workload: runs it untraced and traced with the
same seed and prints, per end-to-end metric, the traced minus the untraced
value (the traced run carries its end-to-end numbers on its detail line),
with the traced run's non-zero per-layer metrics.

    python3 perfbench/overhead.py --workload intake --seed 3
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """The run's end-to-end numbers (from its detail line) and its result."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    return json.loads(out[-2])["e2e"], json.loads(out[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    plain, _ = run(args.workload, args.seed, 0)
    traced, layers = run(args.workload, args.seed, 1)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "untraced": plain,
        "traced": traced,
        "overhead": {k: traced[k] - v for k, v in plain.items()},
        "overhead_share": {k: (traced[k] - v) / v for k, v in plain.items()},
        "layers": {k: m["value"] for k, m in layers["metrics"].items() if m["value"]},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
