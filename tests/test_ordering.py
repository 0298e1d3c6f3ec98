"""ordering.global_row_number — the SinglePartition-window replacement
(VERDICT r8 task 2): must reproduce the exact ROW_NUMBER a global sort
would assign, at any partition count, without one."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_spark.ordering import global_row_number
from kinesis_spark.pins import release_shared_pins


def _check(spark, df, order_cols, n_parts):
    got = global_row_number(df, order_cols, "pos", num_partitions=n_parts)
    rows = got.orderBy("pos").collect()
    # exact dense 1..N numbering in key order
    want = sorted(
        (tuple(r[c] for c in order_cols) for r in df.collect())
    )
    assert [r["pos"] for r in rows] == list(range(1, len(want) + 1))
    assert [tuple(r[c] for c in order_cols) for r in rows] == want
    release_shared_pins()


def test_matches_global_sort_order(spark):
    df = spark.range(1000).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id").alias("tie")
    )
    _check(spark, df, ["k", "tie"], 32)


def test_more_partitions_than_rows(spark):
    df = spark.range(5).select(F.col("id").alias("k"))
    _check(spark, df, ["k"], 32)


def test_single_partition_request_still_exact(spark):
    df = spark.range(50).select((49 - F.col("id")).alias("k"))
    _check(spark, df, ["k"], 1)


def test_empty_relation(spark):
    df = spark.range(0).select(F.col("id").alias("k"))
    got = global_row_number(df, ["k"], "pos")
    assert got.count() == 0
    release_shared_pins()


def test_skewed_key_distribution(spark):
    # 90% of rows share a tiny key range; the tie column keeps the
    # order total, and range partitioning must still number exactly
    df = spark.range(2000).select(
        F.when(F.col("id") % 10 != 0, F.lit(0.5))
        .otherwise(F.col("id").cast("double"))
        .alias("k"),
        F.col("id").alias("tie"),
    )
    _check(spark, df, ["k", "tie"], 16)


def test_release_checkpoints_frees_block_storage(spark):
    """ADVICE r10: localCheckpoint blocks live as block-manager RDD
    storage — clearCache/unpersist never touch them, and waiting for
    driver GC is not a storage budget. release_shared_pins must free
    them deterministically once the consumer has materialized."""
    release_shared_pins()  # drain pins left by earlier tests
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    df = spark.range(5000).select(
        (F.col("id") * 13 % 5000).alias("k"), F.col("id").alias("tie")
    )
    out = global_row_number(df, ["k", "tie"], "pos", num_partitions=8)
    assert out.count() == 5000
    stored = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert stored > before, "checkpoint blocks should be pinned"
    assert release_shared_pins(blocking=True) >= 1
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after < stored, "release must drop the checkpointed RDD"
    assert after == before, "release must drop every pin the call made"
    # idempotent and safe when empty
    assert release_shared_pins() == 0


def test_no_single_partition_exchange(spark):
    import contextlib
    import io

    df = spark.range(1000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("tie")
    )
    out = global_row_number(df, ["k", "tie"], "pos")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "SinglePartition" not in buf.getvalue()
    release_shared_pins()
