#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes (its numbers
mean nothing):

- every workload, untraced and traced, exits 0 and prints a last line with
  exactly the keys ``correct``, ``attempted``, ``failed`` and ``metrics``,
  the metrics being those ``BENCHMARK.json`` names, with its units;
- a traced run reports a non-zero value for every layer its workload
  declares (``LAYERS``), except those it says may be zero (``MAY_BE_ZERO``);
- a corrupted round-trip byte (``writer``) and a wrong query digest
  (``query_mix``) are each reported as failed operations;
- in a directory holding only ``BENCHMARK.json`` and ``perfbench/`` the
  benchmark exits non-zero without printing a result.

    python3 perfbench/smoke.py [writer] [intake] [query_mix]

With no arguments every workload is run (a few minutes).
"""

from __future__ import annotations

import importlib
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("writer", "intake", "query_mix")
problems: list[str] = []


def check(ok: bool, msg: str) -> None:
    print(("ok   " if ok else "FAIL ") + msg, flush=True)
    if not ok:
        problems.append(msg)


def bench(workload: str, *extra: str, root: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "3", "--tiny", *extra]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, p.stdout.splitlines()


def result(lines: list[str]) -> dict | None:
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return None


def check_schema(label: str, res: dict | None, wanted: list[dict]) -> None:
    if res is None:
        check(False, f"{label}: last stdout line is a JSON object")
        return
    check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{label}: result keys")
    check(
        isinstance(res.get("attempted"), int) and res["attempted"] >= 1
        and isinstance(res.get("failed"), int),
        f"{label}: attempted >= 1 and failed are whole numbers",
    )
    metrics = res.get("metrics", {})
    check(
        list(metrics) == [m["name"] for m in wanted],
        f"{label}: metrics are exactly those of BENCHMARK.json",
    )
    check(
        all(
            metrics[m["name"]]["unit"] == m["unit"]
            and set(metrics[m["name"]]) == {"value", "unit"}
            and math.isfinite(metrics[m["name"]]["value"])
            for m in wanted if m["name"] in metrics
        ),
        f"{label}: every metric has a finite value and its unit",
    )


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for wl in argv or WORKLOADS:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            rc, out = bench(wl, "--trace", str(trace))
            res = result(out)
            check(rc == 0, f"{wl} trace={trace}: exit code 0")
            check_schema(f"{wl} trace={trace}", res, spec[section])
            check(
                res is not None and res["correct"] and res["failed"] == 0,
                f"{wl} trace={trace}: no failed operation",
            )
            if trace and res is not None:
                mod = importlib.import_module(f"wl_{wl}")
                zero = [
                    n for n in mod.LAYERS
                    if n not in mod.MAY_BE_ZERO and not res["metrics"][n]["value"]
                ]
                check(not zero, f"{wl} trace=1: declared layers measured non-zero {zero}")
        if wl == "writer":
            res = result(bench(wl, "--trace", "0", "--inject", "corrupt_byte")[1])
            check(
                res is not None and res["failed"] >= 1 and not res["correct"],
                "writer: a corrupted round-trip byte is a failed operation",
            )
        if wl == "query_mix":
            res = result(bench(wl, "--trace", "0", "--inject", "wrong_digest")[1])
            check(
                res is not None and res["failed"] >= 1 and not res["correct"],
                "query_mix: a wrong query digest is a failed operation",
            )

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, out = bench("writer", "--trace", "0", root=bare)
        check(rc != 0 and result(out) is None,
              "bare directory: non-zero exit and no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
