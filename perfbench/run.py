#!/usr/bin/env python3
"""The repository's benchmark: one command per workload, run from the root
of a source checkout.

    python3 perfbench/run.py --workload writer|intake|query_mix \\
        --seed N --seconds S --trace 0|1

It makes its inputs from ``--seed``, measures for about ``--seconds``,
checks the program's outputs, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the ``end_to_end`` metrics of ``BENCHMARK.json``, with
``--trace 1`` its ``per_layer`` metrics. The line before it carries the
workload's named detail (its own metric names, input shares, host facts).

All scratch state lives in ``.perfbench_work/`` under the checkout and is
removed when the run ends. Spark runs at ``local[nproc]``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("writer", "intake", "query_mix")


def _isolate(work: str) -> None:
    """Keep every file the run makes inside ``work`` and pin Spark to the
    cores this host has. Must run before pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    nproc = os.cpu_count() or 1
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # the JVM ignores TMPDIR; spark.* system properties reach SparkConf
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} "
            "-Dspark.ui.showConsoleProgress=false",
            # the session would otherwise probe a Maven mirror for spark-avro
            "SPARK_GRAFT_AVRO_PROVISION": "off",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    os.chdir(work)  # spark-warehouse, metastore and logs land here too


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=None,
                   help="default: run_seconds of BENCHMARK.json")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test input sizes (not a measurement)")
    p.add_argument("--inject", action="append", default=[],
                   choices=("corrupt_byte", "wrong_digest"),
                   help="plant a fault the output checks must report")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kinesis_spark", "__init__.py")):
        print(f"perfbench: no kinesis_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = _spec()
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]

    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}-{time.time_ns()}")
    cwd = os.getcwd()
    _isolate(work)
    from common import Context, host_info

    ctx = Context(
        seed=args.seed, seconds=seconds, trace=bool(args.trace), work=work,
        tiny=args.tiny, inject=frozenset(args.inject),
    )
    try:
        mod = importlib.import_module(f"wl_{args.workload}")
        res = mod.run(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    got, stray = res.e2e, []
    if args.trace:
        # a layer off the workload's path reports 0; one on it (declared in
        # its LAYERS) must be measured, unless an operation failed first
        declared = set(mod.LAYERS)
        got = {m["name"]: 0.0 for m in wanted if m["name"] not in declared}
        if res.failed:
            got |= dict.fromkeys(declared, 0.0)
        got |= {k: v for k, v in res.layers.items() if k in declared}
        stray = sorted(set(res.layers) - declared | declared - {m["name"] for m in wanted})
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing or stray:
        print(f"perfbench: layers not measured {missing}, "
              f"not declared or unknown {stray}", file=sys.stderr)
        return 1
    for msg in res.errors:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    res.detail["host"] = host_info(ROOT)
    res.detail["workload"] = args.workload
    res.detail["seed"] = args.seed
    res.detail["trace"] = args.trace
    res.detail["e2e"] = res.e2e
    print(json.dumps(res.detail, default=str))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {
                    m["name"]: {"value": float(got[m["name"]]), "unit": m["unit"]}
                    for m in wanted
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
