"""Incremental rollup maintenance — the hypertable/continuous-aggregate
pattern: a daily (day, event_type) rollup of the events stream is kept
fresh by MERGING each new batch's partial aggregates into the stored
rollup, rewriting only the day partitions the batch touches.

The rollup stores MERGEABLE state (count + decimal sum, not avg), so a
refresh never re-reads the base events table: stored state ⊕ batch state
re-aggregates to exactly the from-scratch result (decimal addition is
associative — the same discipline the query oracles use). At 100 TB the
refresh cost is proportional to the batch and its touched days, never to
table history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_spark.partitioned_store import (
    dynamic_partition_overwrite,
    is_missing_store,
    touched_partition_filter,
)
from kinesis_spark.pins import pin, scope

#: rollup schema: day (date), event_type, n_events (long), sum_value decimal
_STATE_COLS = ("day", "event_type", "n_events", "sum_value")


#: canonical stored type for the running sum: max precision, so (a) the
#: bootstrap write and every merged rewrite carry the IDENTICAL parquet
#: type (a mixed-precision store fails to read without mergeSchema), and
#: (b) the accumulated value never hits a narrowing cast that would
#: throw under Spark 4's default ANSI mode at large scale.
_SUM_TYPE = "decimal(38,6)"


def daily_rollup_state(events: DataFrame) -> DataFrame:
    """Partial-aggregate a batch of events into mergeable rollup rows."""
    return (
        events.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast(_SUM_TYPE)
            .alias("sum_value"),
        )
        .select(*_STATE_COLS)
    )


def _merge(a: DataFrame, b: DataFrame) -> DataFrame:
    return (
        a.unionByName(b)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sum_value").cast(_SUM_TYPE).alias("sum_value"),
        )
        .select(*_STATE_COLS)
    )


@scope()
def refresh_daily_rollup(
    spark: SparkSession, rollup_dir: str, new_events: DataFrame
) -> int:
    """Merge a batch of new events into the stored rollup at
    ``rollup_dir`` (parquet, partitioned by day). Returns the number of
    day partitions rewritten. First call bootstraps the store."""
    # materialize once: the days collect and the merge/write would
    # otherwise each re-aggregate the batch
    batch = daily_rollup_state(new_events).transform(pin)
    days = [r[0] for r in batch.select("day").distinct().collect()]
    if not days:
        return 0
    touched = touched_partition_filter("day", days)

    with dynamic_partition_overwrite(spark):
        from pyspark.errors import AnalysisException

        try:
            stored = spark.read.parquet(rollup_dir).filter(touched)
            merged = _merge(stored.select(*_STATE_COLS), batch).transform(pin)
        except AnalysisException as exc:
            # bootstrap ONLY on a genuinely missing store; schema drift or
            # an unreadable store must raise, never silently discard state
            if not is_missing_store(exc):
                raise
            merged = batch
        merged.write.mode("overwrite").partitionBy("day").parquet(rollup_dir)
    return len(days)


@scope()
def tx_refresh_daily_rollup(
    spark: SparkSession, root: str, new_events: DataFrame
) -> int:
    """Transactional face of :func:`refresh_daily_rollup` (txstore's
    write-audit-publish): the merged day partitions are staged, audited,
    and become visible in ONE manifest swap — a crash mid-refresh leaves
    the previous rollup fully intact, and a reader never sees half the
    touched days merged. The snapshot version is pinned (expect_version)
    because the merge reads stored state: committing over a concurrent
    refresh would silently drop its increments — the exact lost-update
    the plain dynamic-overwrite path cannot detect."""
    from kinesis_spark.txstore import tx_current_manifest, tx_publish, tx_read

    batch = daily_rollup_state(new_events).transform(pin)
    days = [r[0] for r in batch.select("day").distinct().collect()]
    if not days:
        return 0
    try:
        man = tx_current_manifest(spark, root)
    except FileNotFoundError:
        tx_publish(spark, root, batch, partition_col="day", replace_all=True)
        return len(days)
    stored = tx_read(spark, root, partition_values=days).select(*_STATE_COLS)
    merged = _merge(stored, batch)
    tx_publish(
        spark,
        root,
        merged,
        partition_col="day",
        replace_values=days,
        expect_version=man["version"],
    )
    return len(days)


def streaming_rollup_query(
    spark: SparkSession,
    events_stream: DataFrame,
    rollup_dir: str,
    checkpoint_dir: str,
):
    """Continuous rollup maintenance: each micro-batch's partial
    aggregates merge into the stored rollup via ``foreachBatch`` —
    the streaming face of ``refresh_daily_rollup``. The sink is
    idempotent per batch only through the merge's day-partition
    overwrite; exactly-once across restarts comes from the checkpoint
    replaying whole micro-batches (the merge of a replayed batch is NOT
    idempotent, so production pairs this with batch-id dedup — here the
    checkpoint suffices for the availableNow drain used in tests).

    Returns the started StreamingQuery.
    """

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        refresh_daily_rollup(spark, rollup_dir, batch_df)

    return (
        events_stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
