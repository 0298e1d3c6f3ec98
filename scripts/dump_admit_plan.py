#!/usr/bin/env python
"""Dump the intake sink's admission plan (``PrepIntakeSink._admit``) into
plans/r{ROUND}/intake_admit_<suffix>.txt, twice: against populated hash
and band indexes, and with no index yet (``_empty``). AQE is off, as in
a streaming query's foreachBatch. DATA_DIR holds the fixture tables
(the committed intake_admit plans used the sf0.01 fixture). Counters are
renumbered as in dump_plans.py and the scratch index directory reads
``$WORK``, so two dumps of the same plan are byte-identical. Usage:
    python scripts/dump_admit_plan.py SUFFIX DATA_DIR
"""
from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from kinesis_spark.io import load_table  # noqa: E402
from kinesis_spark.session import get_spark  # noqa: E402
from kinesis_spark.streaming.intake import PrepIntakeSink  # noqa: E402
from dump_plans import normalise  # noqa: E402


def main() -> None:
    suffix, sf_dir = sys.argv[1], sys.argv[2]
    with open(os.path.join(REPO, "ROUND")) as f:
        out_dir = os.path.join(REPO, "plans", f"r{int(f.read().strip())}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-admit-plan")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    work = tempfile.mkdtemp(prefix="admit-plan-")
    try:
        sink = PrepIntakeSink(
            spark,
            hashes_dir=f"{work}/index/hashes",
            bands_dir=f"{work}/index/bands",
            store_root=f"{work}/corpus_tx",
        )

        def dump(name: str, batch) -> None:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                sink._admit(batch).explain()
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(normalise(buf.getvalue().replace(work, "$WORK")))
            print(f"wrote {path}", flush=True)

        dump("intake_admit_empty", docs.filter(F.col("doc_id") < 200))
        sink.process_batch(docs.filter(F.col("doc_id") < 200), 0)
        dump("intake_admit", docs.filter(F.col("doc_id") >= 200))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
