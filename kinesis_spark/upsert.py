"""MERGE/upsert into a directory-partitioned parquet dataset — the CDC
maintenance operation for plain-parquet lakehouses (no table format).

Semantics: rows in ``updates`` replace target rows with the same key;
new keys are inserted. Only the directory partitions that the updates
touch are rewritten (dynamic partition overwrite); every other partition's
files are left byte-identical — at 100 TB the rewrite cost is proportional
to the changed partitions, never the table.

Scale shape: the affected-partition list is a distinct-collect of the
update batch's partition values (bounded by the batch, not the table);
the target read prunes to those partitions at file listing; the merge is
one left-anti join + union, UN-hinted — stats/AQE broadcast the key set
while it fits and fall back to a shuffle join for a huge CDC backfill
(a forced broadcast would OOM exactly there). The ``pins.pin``
before the write breaks the read-from/overwrite-to cycle on the same
path by materializing the merged partitions.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_spark.partitioned_store import (
    dynamic_partition_overwrite,
    is_missing_store,
    touched_partition_filter,
)
from kinesis_spark.pins import pin, scope


@scope()
def upsert_partitioned(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key: str,
    partition_col: str,
) -> int:
    """Merge ``updates`` into ``target_dir`` (parquet, partitioned by
    ``partition_col``). Returns the number of partitions rewritten.

    ``updates`` must carry the key and the partition column; a key's
    partition value may change only if the caller also emits a delete for
    the old partition (standard CDC contract for partition-keyed stores).
    Duplicate keys within one batch collapse to a single arbitrary
    winner (MERGE forbids multi-match); emit pre-deduped batches when
    the winner matters.
    """
    # MERGE semantics require at most one source row per key — collapse
    # in-batch duplicates to one whole row (struct-max keeps the
    # lexicographically greatest row intact, never mixes fields across
    # rows) so a dirty batch can't insert the same key twice
    other = [c for c in updates.columns if c != key]
    updates = (
        updates.groupBy(key)
        .agg(F.max(F.struct(*other)).alias("_row"))
        .select(key, *[F.col(f"_row.{c}").alias(c) for c in other])
    )
    parts = [r[0] for r in updates.select(partition_col).distinct().collect()]
    if not parts:
        return 0

    with dynamic_partition_overwrite(spark):
        try:
            touched = touched_partition_filter(partition_col, parts)
            target = spark.read.parquet(target_dir).filter(touched)
        except AnalysisException as exc:
            if not is_missing_store(exc):
                raise
            updates.write.mode("overwrite").partitionBy(partition_col).parquet(
                target_dir
            )
            return len(parts)
        # eqNullSafe, not plain equality: a NULL-key update must REPLACE
        # the target's NULL-key row — `key = key` never matches NULL, so
        # the old row would survive the anti join and the new row union
        # in beside it, silently duplicating every batch. Join un-hinted
        # (see module docstring).
        upd_keys = updates.select(key)
        merged = (
            target.join(
                upd_keys, target[key].eqNullSafe(upd_keys[key]), "left_anti"
            )
            .unionByName(updates.select(*target.columns))
            # materialize before overwriting the directory we just read
            .transform(pin)
        )
        (
            merged.write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(target_dir)
        )
    return len(parts)


def streaming_upsert_query(
    spark: SparkSession,
    updates_stream: DataFrame,
    target_dir: str,
    key: str,
    partition_col: str,
    checkpoint_dir: str,
):
    """The CDC apply loop: each micro-batch of updates MERGEs into the
    partitioned target via ``foreachBatch`` — the streaming face of
    :func:`upsert_partitioned` (mirrors ``streaming_rollup_query``,
    rollup.py:79). Unlike the rollup merge, the upsert IS idempotent per
    batch (last-write-wins on the key), so a checkpoint replay of a
    whole micro-batch converges to the same table.

    Returns the started StreamingQuery (caller picks the trigger cadence
    via ``.trigger`` before ``start`` — here availableNow for drains).
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        upsert_partitioned(spark, target_dir, batch_df, key, partition_col)

    return (
        updates_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
