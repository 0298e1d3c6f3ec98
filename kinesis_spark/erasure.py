"""Targeted deletion (right-to-erasure) from a directory-partitioned
parquet store — the compliance operation a training-data platform runs
when a user, document, or license-holder must be forgotten.

Semantics: every row whose key matches the erasure request is removed;
everything else stays byte-identical. The request carries ONLY keys (the
caller usually doesn't know where a user's rows live), so the operation
has two phases:

1. LOCATE — a column-pruned (key, partition) projection of the store
   semi-joined with the request: the honest cost of delete-by-key
   without a key index, one scan that reads two columns and nothing
   else. The touched-partition list it yields is bounded by the
   request's spread, not the table.
2. REWRITE — only the touched partitions are read back (partition-pruned
   at file listing) and rewritten without the matching rows (dynamic
   partition overwrite, same machinery as upsert.py). Cost is
   proportional to the touched partitions — at 100 TB, erasing one
   user rewrites the handful of partitions that user appears in.

Dynamic-overwrite pitfall handled explicitly: a partition whose rows are
ALL erased produces no output rows, so dynamic overwrite would leave its
old files untouched and the data would silently survive. Emptied
partitions are detected from the audit counts and their directories are
deleted through the Hadoop FileSystem API.

The returned audit DataFrame (one row per touched partition: rows
erased, distinct keys matched, emptied flag) is the deletion evidence a
compliance workflow records; keys that matched nothing simply don't
appear (the caller compares against its request to prove completeness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kinesis_spark.partitioned_store import (
    dynamic_partition_overwrite,
    touched_partition_filter,
)
from kinesis_spark.pins import pin, scope

AUDIT_SCHEMA = StructType(
    [
        StructField("partition_value", StringType(), True),
        StructField("n_rows_erased", LongType(), False),
        StructField("n_keys_matched", LongType(), False),
        StructField("partition_emptied", BooleanType(), False),
    ]
)


def _partition_dir(target_dir: str, partition_col: str, value) -> str:
    # Spark writes NULL partition values to the Hive default directory.
    # Simple scalar values render verbatim; callers with values needing
    # Hive escaping (slashes, colons) should partition on a sanitized
    # column — same contract as upsert.py.
    name = "__HIVE_DEFAULT_PARTITION__" if value is None else str(value)
    return f"{target_dir}/{partition_col}={name}"


def _delete_dir(spark: SparkSession, path: str) -> None:
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


@scope()
def erase_by_key(
    spark: SparkSession,
    target_dir: str,
    request: DataFrame,
    key: str,
    partition_col: str,
) -> DataFrame:
    """Erase every row of ``target_dir`` whose ``key`` appears in
    ``request`` (a DataFrame carrying the key column). Returns the
    per-partition audit DataFrame (see module docstring). A missing
    store raises — an erasure that silently no-ops is a compliance
    bug, not a convenience.

    NULL keys in the request match NULL-key rows (eqNullSafe, the same
    null discipline as upsert_partitioned) — a store that allowed a
    NULL-keyed row in must be able to forget it again.
    """
    req = request.select(F.col(key).alias("_erase_key")).distinct()
    # the request is user-supplied and small; pin it once for the two
    # joins below (locate + rewrite)
    req = req.transform(pin)

    tgt = spark.read.parquet(target_dir)  # missing store raises here
    located = (
        tgt.select(F.col(key), F.col(partition_col))
        .join(req, F.col(key).eqNullSafe(F.col("_erase_key")), "left_semi")
        .groupBy(partition_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows_erased"),
            F.count_distinct(F.col(key)).alias("n_keys_nonnull"),
            F.max(F.col(key).isNull().cast("int")).alias("has_null_key"),
        )
    )
    hit_rows = located.collect()  # bounded by touched partitions
    if not hit_rows:
        return spark.createDataFrame([], AUDIT_SCHEMA)

    parts = [r[partition_col] for r in hit_rows]
    touched = touched_partition_filter(partition_col, parts)
    survivors = (
        spark.read.parquet(target_dir)
        .filter(touched)
        .join(req, F.col(key).eqNullSafe(F.col("_erase_key")), "left_anti")
        # materialize before overwriting the directories just read
        .transform(pin)
    )
    remaining_counts = {
        r[partition_col]: r["n"]
        for r in survivors.groupBy(partition_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    with dynamic_partition_overwrite(spark):
        survivors.write.mode("overwrite").partitionBy(partition_col).parquet(target_dir)
    # dynamic overwrite never touches a partition with zero output rows:
    # those directories still hold the erased data and must be removed
    audit = []
    for r in hit_rows:
        val = r[partition_col]
        emptied = remaining_counts.get(val, 0) == 0
        if emptied:
            _delete_dir(spark, _partition_dir(target_dir, partition_col, val))
        audit.append(
            (
                None if val is None else str(val),
                r["n_rows_erased"],
                r["n_keys_nonnull"] + (r["has_null_key"] or 0),
                emptied,
            )
        )
    return spark.createDataFrame(audit, AUDIT_SCHEMA)


def streaming_erasure_query(
    spark: SparkSession,
    requests_stream: DataFrame,
    target_dir: str,
    key: str,
    partition_col: str,
    checkpoint_dir: str,
):
    """The compliance apply loop: each micro-batch of erasure requests is
    applied to the partitioned store via ``foreachBatch`` — the streaming
    face of :func:`erase_by_key`, mirroring ``streaming_upsert_query``
    (upsert.py). Erasure is idempotent per batch (erasing an
    already-erased key matches nothing and rewrites nothing), so a
    checkpoint replay of a whole micro-batch converges to the same
    store. Returns the started StreamingQuery."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        erase_by_key(spark, target_dir, batch_df, key, partition_col)

    return (
        requests_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
