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
def tx_refresh_daily_rollup(
    spark: SparkSession, root: str, new_events: DataFrame
) -> int:
    """Merge a batch of new events into the transactional rollup store at
    ``root`` (partitioned by day). Returns the number of day partitions
    rewritten; an empty batch returns 0 and publishes nothing. The first
    call, on a store that does not exist yet, bootstraps it from the
    batch.

    Only the batch's days are read back, merged with the batch state and
    staged; txstore's write-audit-publish then makes them visible in ONE
    manifest swap, so a crash mid-refresh leaves the previous rollup
    fully intact and a reader never sees half the touched days merged.
    Untouched days keep their generation. The snapshot version is pinned
    (``expect_version``) because the merge reads stored state:
    committing over a concurrent refresh would silently drop its
    increments (lost update), so that commit raises instead."""
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
