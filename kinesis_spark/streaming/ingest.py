"""Streaming ingest: source → chunk → tag → batch → put, as a streaming query.

Design for scale: all row transforms (chunking, key tagging) are DataFrame
expressions executed by the JVM; Python only runs at the sink boundary
(one client per partition per micro-batch, like one boto3 client per task),
where each task drives the CLI's own ``ingest.writer.Writer.put`` — the
foreachBatch sink is the existing writer run once per micro-batch, not a
second PutRecords loop. Records never pass through the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kinesis_spark.ingest.chunker import chunk_column
from kinesis_spark.ingest.limits import (
    PUT_RECORDS_LIMIT,
    PUT_RECORDS_SIZE_LIMIT,
    RECORD_SIZE_LIMIT,
)
from kinesis_spark.ingest.writer import Record, Writer


def build_rate_source(
    spark: SparkSession,
    rows_per_second: int = 100,
    payload_bytes: int = 1024,
    num_partitions: int | None = None,
) -> DataFrame:
    """Bench generator parity: N payloads/s of fixed size
    (reference bench/main.go:24-29 — 1024 B every 10 ms).

    ``num_partitions`` sizes source parallelism to the offered load — at
    100 rows/s a handful of partitions beats the default (= cluster cores),
    which would pay per-task overhead for near-empty partitions.
    """
    reader = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second)
    if num_partitions is not None:
        reader = reader.option("numPartitions", num_partitions)
    return (
        reader.load()
        .select(
            F.col("timestamp"),
            F.expr(f"cast(repeat('x', {payload_bytes}) as binary)").alias("data"),
        )
    )


def build_text_source(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Line-framed text files as an ingest source (streaming EP1 parity:
    the CLI pipes stdin in batch; a directory of text files is the
    streaming equivalent — each line becomes one payload row).

    Framing note (SURVEY.md §7c): the reference chunks an unframed byte
    stream at arbitrary io.Copy boundaries; the text source frames on
    newlines. Both re-chunk downstream at the record limit, so record
    contents differ only when a line exceeds the chunk size.
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path).select(
        F.encode(F.col("value"), "UTF-8").alias("data")
    )


@dataclass
class IngestMetrics:
    """Driver-side mirror of the sink accumulators (first-class drop metric)."""

    batches: int = 0
    records_put: int = 0
    bytes_put: int = 0
    rows_dropped: int = 0
    bytes_dropped: int = 0
    put_calls: int = 0
    records_retried: int = 0
    input_rows: int = 0  # from StreamingQueryListener progress events
    last_batch_duration_ms: float = 0.0
    errors: list[str] = field(default_factory=list)


def attach_progress_listener(spark: SparkSession, metrics: IngestMetrics,
                             query_name: str):
    """Surface Spark's own streaming progress (input rows, batch
    duration) into IngestMetrics via a StreamingQueryListener — the
    engine-level observability channel next to the sink accumulators
    (SURVEY.md §2A op 7). Returns the listener; callers remove it with
    ``spark.streams.removeListener``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.name == query_name:
                metrics.input_rows += int(p.numInputRows)
                metrics.last_batch_duration_ms = float(
                    p.durationMs.get("triggerExecution", 0)
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener


def start_ingest_query(
    source: DataFrame,
    client_factory: Callable[[], object],
    stream_name: str,
    partition_key: str,
    *,
    record_size_limit: int = RECORD_SIZE_LIMIT,
    put_records_limit: int = PUT_RECORDS_LIMIT,
    put_records_size_limit: int = PUT_RECORDS_SIZE_LIMIT,
    trigger_seconds: float = 1.0,
    available_now: bool = False,
    max_bytes_per_batch: int | None = None,
    shard_rate_limits: tuple[float, float] | None = None,
    checkpoint_dir: str | None = None,
    query_name: str = "kinesis_ingest",
) -> tuple[StreamingQuery, IngestMetrics]:
    """Run the reference pipeline as a streaming query.

    ``max_bytes_per_batch`` is the load-shed valve: a micro-batch over
    budget has its excess rows dropped *and counted* (reference drops are
    silent; ours are metrics — SURVEY.md §4 quirk 4). ``None`` disables
    shedding (pure backpressure, Spark's native mode).

    ``client_factory`` must be picklable (it is called inside each
    partition task — e.g. ``kinesis_spark.ingest.aws.make_boto3_client``
    in real use, a file-spool fake in tests; a raw boto3 client does NOT
    match the ``put_records(stream_name, records)`` seam).

    ``shard_rate_limits=(records_per_s, bytes_per_s)`` enables the
    per-shard throttle (the reference's dead constants, SURVEY.md §1.3).
    All partition tasks write one shard (fixed partition key), so the
    configured rate is split across the batch's N tasks and each task's
    bucket starts empty — the AGGREGATE put rate stays within the
    envelope instead of N x limit plus a fresh burst per trigger.
    """
    spark = source.sparkSession
    sc = spark.sparkContext
    acc_rows_dropped = sc.accumulator(0)
    acc_bytes_dropped = sc.accumulator(0)
    acc_records = sc.accumulator(0)
    acc_bytes = sc.accumulator(0)
    acc_calls = sc.accumulator(0)
    acc_retried = sc.accumulator(0)
    metrics = IngestMetrics()

    chunk_size = record_size_limit - len(partition_key.encode())
    if chunk_size <= 0:
        raise ValueError("record_size_limit must exceed partition key length")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        metrics.batches += 1
        persisted = None
        df = batch_df.select(F.col("data").cast("binary").alias("data"))
        df = df.withColumn("nbytes", F.length("data"))

        if max_bytes_per_batch is not None:
            # Admission control: per-partition byte budget. Each source
            # partition admits rows while its own cumulative bytes stay
            # within budget/N — the window partitions on the ORIGINAL
            # spark_partition_id, so the cumulative sum runs N-way parallel
            # (no global single-partition sort; the old global-watermark
            # variant serialized every micro-batch through one task).
            # A skewed batch may admit less than a global watermark would
            # — that is the scale trade: admission cost stays O(batch/N)
            # per task at any offered load. Progress guarantee: each
            # partition's FIRST row is admitted whenever it alone fits
            # the GLOBAL budget, so budget < N x row_size degrades to
            # trickle delivery, never total starvation (worst-case
            # overshoot: (N-1) extra rows in one batch, self-corrects as
            # Spark sizes later batches).
            from pyspark.sql.window import Window

            n_parts = max(df.rdd.getNumPartitions(), 1)
            part_budget = max_bytes_per_batch // n_parts
            df = df.withColumn("__pid", F.spark_partition_id()).withColumn(
                "__mid", F.monotonically_increasing_id()
            )
            w = Window.partitionBy("__pid").orderBy("__mid")
            df = (
                df.withColumn("cum_bytes", F.sum("nbytes").over(w))
                .withColumn("__rn", F.row_number().over(w))
                # one materialization: shed-count agg + put job would
                # otherwise each re-read the source and re-run the window
                # (and __mid is nondeterministic across retries)
                .persist()
            )
            persisted = df
            admit = (F.col("cum_bytes") <= part_budget) | (
                (F.col("__rn") == 1) & (F.col("nbytes") <= max_bytes_per_batch)
            )
            admitted = df.filter(admit).drop("__pid", "__mid", "__rn")
            shed = df.filter(~admit)
            shed_agg = shed.agg(
                F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("nbytes"), F.lit(0)).alias("b")
            ).collect()[0]
            if shed_agg["n"]:
                acc_rows_dropped.add(int(shed_agg["n"]))
                acc_bytes_dropped.add(int(shed_agg["b"]))
            df = admitted.drop("cum_bytes")

        chunks = df.select(
            F.posexplode(chunk_column(F.col("data"), F.lit(chunk_size))).alias(
                "idx", "chunk"
            )
        )

        # every task writes the same shard (fixed pk): split the shard
        # envelope across the batch's tasks so the aggregate stays within
        # it, and start buckets empty (a fresh free burst per trigger
        # would compound to ~2x the configured rate at 1 s triggers)
        n_put_tasks = max(chunks.rdd.getNumPartitions(), 1)

        def put_partition(rows) -> None:
            # the Writer's counters reach the accumulators even when its
            # retries run out and put raises (partial delivery is counted)
            throttle = None
            if shard_rate_limits is not None:
                from kinesis_spark.ingest.throttle import RateLimiter

                throttle = RateLimiter(
                    shard_rate_limits[0] / n_put_tasks,
                    shard_rate_limits[1] / n_put_tasks,
                    start_empty=True,
                )
            writer = Writer(
                client_factory(),
                stream_name,
                partition_key,
                record_size_limit=record_size_limit,
                put_records_limit=put_records_limit,
                put_records_size_limit=put_records_size_limit,
                throttle=throttle,
            )
            try:
                writer.put(Record(partition_key, bytes(row.chunk)) for row in rows)
            finally:
                acc_calls.add(writer.put_calls)
                acc_records.add(writer.records_put)
                acc_bytes.add(writer.bytes_put)
                acc_retried.add(writer.records_retried)

        try:
            chunks.foreachPartition(put_partition)
        except Exception as exc:
            # surface the failure in the metrics mirror before the query
            # dies — operators see WHY, not just a stopped query
            metrics.errors.append(str(exc)[:500])
            raise
        finally:
            if persisted is not None:
                persisted.unpersist()
        # surface accumulator values driver-side after the batch completes
        metrics.rows_dropped = acc_rows_dropped.value
        metrics.bytes_dropped = acc_bytes_dropped.value
        metrics.records_put = acc_records.value
        metrics.bytes_put = acc_bytes.value
        metrics.put_calls = acc_calls.value
        metrics.records_retried = acc_retried.value

    writer = source.writeStream.queryName(query_name).foreachBatch(process_batch)
    if available_now:
        # bounded drain (replay/backfill): process everything currently
        # in the source, then stop — the §2A-9 graceful-drain trigger
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start(), metrics
