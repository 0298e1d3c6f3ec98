"""Streaming PSI drift monitor — dq4's always-on production face.

A pipeline does not re-profile a 100 TB reference table on every
micro-batch: the reference distribution is captured ONCE
(:func:`write_psi_reference`, PSI_BINS rows of (bin, ref_cnt)), and the
monitor folds each arriving micro-batch into a durable cumulative
current-distribution profile, scoring PSI against the reference after
every batch. The math is dq4's exactly — shared
:func:`~kinesis_spark.queries.lineage.psi_bin` /
:func:`~kinesis_spark.queries.lineage.psi_score` helpers, so the
monitor and the batch report can never disagree on binning, smoothing,
or the decimal ln bridge (parity asserted bit-exact in
tests/test_streaming_drift.py).

Replay idempotence (the repo's foreachBatch discipline, same as
streaming/bloom_dedup.py): each batch's bin counts land in an
OVERWRITE commit keyed by the batch id (``.../batch_id=<id>/``), so an
at-least-once redelivery rewrites its own slot instead of
double-counting; the per-batch report is committed the same way.

Bounded state (ADVICE r8): a months-long one-minute stream would
accumulate hundreds of thousands of ``batch_id=*`` slots, making each
trigger's listing+scan O(#batches) and cumulative work quadratic. Every
``COMPACT_EVERY`` batches the monitor folds all slots at or below the
current batch id into ONE rolled-up slot, committed with the txstore
rename CAS (write ``compacted/upto=<id>/`` fully, then the marker —
readers resolve the newest MARKER, so a crash mid-compaction leaves the
previous state fully readable). Folded slot directories are removed
after the marker lands; a crash before the removal is harmless because
the reader ignores any per-batch slot with ``batch_id <= upto`` (its
counts live in the compacted roll-up). Redelivery stays idempotent
across compaction: a redelivered batch id carries the SAME rows (same
source offsets), so its counts inside the roll-up already equal what
the overwrite-by-batch-id slot would say — the rewritten slot is simply
ignored by the reader and reclaimed by the next compaction. Per-trigger
cost is therefore O(PSI_BINS + COMPACT_EVERY) regardless of stream age.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kinesis_spark.queries.lineage import PSI_BINS, psi_bin, psi_score
from kinesis_spark.streaming.batches import start_foreach_batch

# fold per-batch slots into the compacted roll-up once this many recent
# slots have accumulated: small enough that a trigger never scans more
# than ~2x this many directories, large enough that compaction (one
# PSI_BINS x COMPACT_EVERY aggregation) is a rare, cheap event
COMPACT_EVERY = 16

_COMPACT_LOG = "compact_log"


def write_psi_reference(
    ref_df: DataFrame, value_col: str, ref_path: str
) -> None:
    """Capture the reference profile: (bin, ref_cnt) over ``value_col``
    under dq4's binning — one scan of the reference slice, run once."""
    (
        ref_df.select(psi_bin(F.col(value_col)).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ref_cnt"))
        .write.mode("overwrite")
        .parquet(ref_path)
    )


def _compacted_upto(spark: SparkSession, state_dir: str) -> int:
    """Highest batch id covered by a COMMITTED roll-up (-1 = none).
    Only rename-CAS markers count — a fully-written ``upto=<id>/``
    directory whose compactor crashed before the marker is invisible."""
    from kinesis_spark.txstore import _fs_list_names

    names = _fs_list_names(spark, os.path.join(state_dir, _COMPACT_LOG))
    return max(
        (int(m.group(1)) for n in names if (m := re.fullmatch(r"(\d{10})\.json", n))),
        default=-1,
    )


def _slot_ids(spark: SparkSession, batches_dir: str) -> list[int]:
    from kinesis_spark.txstore import _fs_list_names

    return sorted(
        int(m.group(1))
        for n in _fs_list_names(spark, batches_dir)
        if (m := re.fullmatch(r"batch_id=(\d+)", n))
    )


def _current_counts(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """(bin, cnt) cumulative over every committed batch: the newest
    roll-up plus the per-batch slots ABOVE it. Slots at or below the
    roll-up's watermark are ignored (their counts are in the roll-up;
    a redelivered slot below the watermark is an orphan, not a double
    count). Relation size: PSI_BINS x (1 + #recent slots), tiny."""
    batches_dir = os.path.join(state_dir, "batches")
    upto = _compacted_upto(spark, state_dir)
    recent_ids = [i for i in _slot_ids(spark, batches_dir) if i > upto]
    parts = []
    if upto >= 0:
        parts.append(
            spark.read.parquet(
                os.path.join(state_dir, "compacted", f"upto={upto}")
            ).select("bin", "cnt")
        )
    for i in recent_ids:
        parts.append(
            spark.read.parquet(
                os.path.join(batches_dir, f"batch_id={i}")
            ).select("bin", "cnt")
        )
    if not parts:
        return spark.range(0).select(
            F.col("id").alias("bin"), F.lit(0).cast("bigint").alias("cnt")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("bin").agg(F.sum("cnt").cast("bigint").alias("cnt"))


def _compact_batches(
    spark: SparkSession, state_dir: str, upto_id: int
) -> None:
    """Fold every slot with ``batch_id <= upto_id`` (plus the previous
    roll-up) into ``compacted/upto=<upto_id>/``. Commit order makes a
    crash at any point recoverable: (1) write the new roll-up directory
    fully, (2) rename-CAS its marker — the only mutation readers can
    see, (3) delete the folded slots and superseded roll-ups (pure
    reclamation; redoing it is a no-op)."""
    from kinesis_spark.txstore import DEFAULT_ARBITER, _fs, _jpath

    prev_upto = _compacted_upto(spark, state_dir)
    if upto_id <= prev_upto:
        return
    batches_dir = os.path.join(state_dir, "batches")
    fold_ids = [
        i for i in _slot_ids(spark, batches_dir) if prev_upto < i <= upto_id
    ]
    parts = []
    if prev_upto >= 0:
        parts.append(
            spark.read.parquet(
                os.path.join(state_dir, "compacted", f"upto={prev_upto}")
            ).select("bin", "cnt")
        )
    for i in fold_ids:
        parts.append(
            spark.read.parquet(
                os.path.join(batches_dir, f"batch_id={i}")
            ).select("bin", "cnt")
        )
    if not parts:
        return
    rolled = parts[0]
    for p in parts[1:]:
        rolled = rolled.unionByName(p)
    rolled = rolled.groupBy("bin").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    new_dir = os.path.join(state_dir, "compacted", f"upto={upto_id}")
    rolled.write.mode("overwrite").parquet(new_dir)
    DEFAULT_ARBITER.commit(
        spark,
        os.path.join(state_dir, _COMPACT_LOG),
        f"{upto_id:010d}.json",
        '{"upto": %d}' % upto_id,
    )
    # reclamation (safe to crash/redo): every slot now covered by the
    # roll-up — including orphans a prior crash or redelivery left below
    # the previous watermark — plus every superseded roll-up directory
    fs = _fs(spark, state_dir)
    for i in _slot_ids(spark, batches_dir):
        if i <= upto_id:
            p = _jpath(spark, os.path.join(batches_dir, f"batch_id={i}"))
            if fs.exists(p):
                fs.delete(p, True)
    from kinesis_spark.txstore import _fs_list_names

    for n in _fs_list_names(spark, os.path.join(state_dir, "compacted")):
        m = re.fullmatch(r"upto=(\d+)", n)
        if m and int(m.group(1)) < upto_id:
            p = _jpath(spark, os.path.join(state_dir, "compacted", n))
            if fs.exists(p):
                fs.delete(p, True)


def _filled_counts(
    spark: SparkSession, ref_path: str, state_dir: str
) -> DataFrame:
    """(bin, ref_cnt, cur_cnt) over the full PSI_BINS spine: reference
    profile left-joined with the cumulative batch counts (roll-up +
    recent slots — see :func:`_current_counts`)."""
    spine = spark.range(PSI_BINS).select(F.col("id").alias("bin"))
    ref = spark.read.parquet(ref_path)
    cur = _current_counts(spark, state_dir).withColumnRenamed("cnt", "cur_cnt")
    return (
        spine.join(ref, "bin", "left")
        .join(cur, "bin", "left")
        .select(
            "bin",
            F.coalesce("ref_cnt", F.lit(0)).cast("bigint").alias("ref_cnt"),
            F.coalesce("cur_cnt", F.lit(0)).cast("bigint").alias("cur_cnt"),
        )
    )


def start_psi_drift_query(
    stream: DataFrame,
    ref_path: str,
    value_col: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Start the monitor: every micro-batch commits its bin counts
    (overwrite-by-batch-id) and publishes the dq4 report — cumulative
    current distribution vs the captured reference — under
    ``out_dir/batch_id=<id>/``. Read the report with
    ``spark.read.parquet(out_dir)``; the latest batch_id is the current
    drift state, and `drift_alert` flips when cumulative PSI crosses
    the conventional 0.2."""
    batches_dir = os.path.join(state_dir, "batches")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        (
            batch_df.select(psi_bin(F.col(value_col)).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .write.mode("overwrite")
            .parquet(os.path.join(batches_dir, f"batch_id={batch_id}"))
        )
        report = psi_score(_filled_counts(spark, ref_path, state_dir))
        report.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        # bound the slot count AFTER publishing the report: the roll-up
        # changes no totals (asserted in tests), only the layout
        upto = _compacted_upto(spark, state_dir)
        if len([i for i in _slot_ids(spark, batches_dir) if i > upto]) >= COMPACT_EVERY:
            _compact_batches(spark, state_dir, batch_id)

    return start_foreach_batch(
        stream, _sink, checkpoint_dir, available_now=trigger_available_now
    )
