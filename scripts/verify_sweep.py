#!/usr/bin/env python
"""Check queries against their DuckDB oracles through the driver contract:

    python scripts/verify_sweep.py [name1,name2,...] [sf_dir]

With no names, drive __spark_entry__.entry, then every queries() entry,
comparing each with its oracle_sql() twin; with names, check just those
queries. sf_dir defaults to $SPARK_GRAFT_SF_DIR, else
/root/testdata/sf0.01. The comparator is tests/oracle_utils (the SAME one
the pytest gate uses: dtype-kind asserts, bit-exact float compare,
targeted diagnostics), so the script and the test gate can never drift.

Each query prints one line (EXACT MATCH, rows-only or FAIL); the last
line is a JSON summary with the counts, the failing names and
``leaked_rdds``: the stored-RDD count after the last pin release minus
the count before the sweep. Exit 0 when nothing failed and nothing
leaked."""

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

import __spark_entry__ as e
from kinesis_spark.pins import release_shared_pins
from kinesis_spark.session import get_spark
from oracle_utils import compare, run_oracle


def _stored_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def main() -> int:
    names = [n for n in (sys.argv[1] if len(sys.argv) > 1 else "").split(",") if n]
    sf = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    qs, osql = e.queries(), e.oracle_sql()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print("unknown queries:", unknown, file=sys.stderr)
        return 2
    spark = get_spark("verify-drive")
    spark.sparkContext.setLogLevel("ERROR")
    before = _stored_rdds(spark)
    if not names:
        assert len(e.entry(spark).collect()) > 0
    exact, rows_only, fails = 0, 0, []
    for name in names or qs:
        try:
            # bench.py's isolation rule: queries that pin internal
            # subtrees (sim15, sim8, MLlib pipelines, the iterative
            # family) must not stack 191 pinned relations across the sweep
            release_shared_pins()
            df = qs[name](spark, sf)
            if name not in osql:
                print(name, "rows-only", df.count(), flush=True)
                rows_only += 1
                continue
            compare(df, run_oracle(osql[name], sf), name)
            print(name, "EXACT MATCH", flush=True)
            exact += 1
        except Exception as ex:  # noqa: BLE001 - collect, report all
            fails.append(name)
            print(name, "FAIL", repr(ex)[:500], flush=True)
    release_shared_pins()
    leaked = _stored_rdds(spark) - before
    print(json.dumps({"exact": exact, "rows_only": rows_only,
                      "fail": len(fails), "failures": fails,
                      "leaked_rdds": leaked}), flush=True)
    spark.stop()
    return 1 if fails or leaked else 0


if __name__ == "__main__":
    sys.exit(main())
