#!/usr/bin/env python
"""Isolated per-query A/B timer: bench.py's exact per-query discipline
(noop sink, pin release between attempts, best-of-N)
over an explicit query list, without the 219-query suite around it.
Usage: python scripts/time_isolated.py q1 q2 ... [--n 3]
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from kinesis_spark.pins import release_shared_pins  # noqa: E402
from kinesis_spark.queries import get_registry  # noqa: E402
from kinesis_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = 3
    if "--n" in sys.argv:
        n = int(sys.argv[sys.argv.index("--n") + 1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time-isolated")
    spark.sparkContext.setLogLevel("ERROR")
    reg = get_registry()
    # warm the JVM like bench.py does (one agg + the parquet footers)
    from kinesis_spark.io import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    for name in args:
        q = reg[name]
        runs = []
        for _ in range(n):
            release_shared_pins()
            spark.sparkContext.setJobDescription(f"iso:{name}")
            t0 = time.monotonic()
            q.spark_fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(round(time.monotonic() - t0, 3))
        print(f"{name}: best={min(runs)} runs={runs}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
