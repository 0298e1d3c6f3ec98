#!/usr/bin/env python3
"""Paired A/B of the repository benchmark on two source checkouts.

    python3 scripts/perf_ab.py BASE HEAD --workload intake --seeds 101-110 \\
        [--trace 0|1] [--out runs.jsonl]

BASE and HEAD are checkout roots, for example a ``git worktree`` of the
parent commit beside the working tree. For each seed, ``perfbench/run.py``
runs once on each side with identical arguments; the side that runs first
alternates from seed to seed, so host drift within a pair falls on both
sides equally often. ``perfbench/`` is only run, never modified.

Printed: every pair's values, then per metric each side's median and
quartiles, the share of pairs HEAD wins (ties count for neither), and the
gain rule: HEAD wins at least 9/10 of the pairs and the medians differ by
more than BASE's interquartile range. The relative change of the medians
is printed beside each metric's regression bound from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def _run(root: str, workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", str(trace)]
    t = time.time()
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"perf_ab: {' '.join(cmd)} in {root} exited {proc.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t
    return res


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("base")
    p.add_argument("head")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 101-110 or 111,113-115")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="append every run as one JSON line")
    args = p.parse_args(argv)

    with open(f"{args.head}/BENCHMARK.json") as f:
        spec = json.load(f)
    metrics = spec["per_layer" if args.trace else "end_to_end"]
    sides = {"base": args.base, "head": args.head}
    pairs: list[dict] = []
    for i, seed in enumerate(_seeds(args.seeds)):
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            res = _run(sides[side], args.workload, seed, args.trace)
            pair[side] = res
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"seed": seed, "side": side,
                                        "workload": args.workload, **res}) + "\n")
        pairs.append(pair)
        got = {s: {k: v["value"] for k, v in pair[s]["metrics"].items()} for s in sides}
        shown = [m["name"] for m in metrics if got["base"][m["name"]] or got["head"][m["name"]]]
        vals = " ".join(
            f"{n}={got['base'][n]:.4g}/{got['head'][n]:.4g}" for n in shown[:3]
        )
        print(f"seed {seed} first={order[0]} failed={pair['base']['failed']}/"
              f"{pair['head']['failed']} base/head {vals}", flush=True)

    failed = {s: sum(pr[s]["failed"] for pr in pairs) for s in sides}
    print(f"\n{args.workload}: {len(pairs)} pairs, failed operations "
          f"base {failed['base']} head {failed['head']}")
    for m in metrics:
        name, sign = m["name"], (1 if m["better"] == "higher" else -1)
        b = [pr["base"]["metrics"][name]["value"] for pr in pairs]
        h = [pr["head"]["metrics"][name]["value"] for pr in pairs]
        if not any(b + h):
            continue  # a layer off this workload's path
        wins = sum(sign * (y - x) > 0 for x, y in zip(b, h))
        bq, hq = _quartiles(b), _quartiles(h)
        iqr = bq[2] - bq[0]
        gap = sign * (hq[1] - bq[1])
        rel = (hq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        gain = wins >= 0.9 * len(pairs) and gap > iqr
        bound = f" bound {m['bound']:.2f}" if "bound" in m else ""
        print(f"  {name:40s} base {bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]  "
              f"head {hq[1]:.4g} [{hq[0]:.4g}, {hq[2]:.4g}]  "
              f"change {rel:+.1%}{bound}  head wins {wins}/{len(pairs)}  "
              f"gain rule {'met' if gain else 'not met'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
