"""Backfill producer: replay a parquet table into the PutRecords sink —
what a reference user runs when a stored dataset must go (back) through
the stream, e.g. seeding a new Kinesis consumer from history or
re-driving a downstream pipeline after a bug fix.

The reference's producer surface is bytes-from-stdin (main.go:32-35);
this is its table-shaped sibling: each ROW serializes to one
newline-terminated JSON record (or any caller-supplied payload
expression), and the existing ingest query does everything downstream:
chunking to the record-size limit and drop accounting in
kinesis_spark/streaming/ingest.py, then, per task, the CLI's own
``ingest.writer.Writer.put`` for batch-by-500, the 5 MiB request cap,
ErrorCode retries with backoff and the optional per-shard throttle.
Nothing is reimplemented; the replay is ``start_ingest_query`` over a
bounded file stream drained with ``availableNow``, and the records it
puts read back through the ``kinesis_consumer`` source.

Ordering: with the default parallel read, rows are put in per-task file
order — the same contract as the streaming sink (per-partition packing;
see i2's docstring for the ordered-packing contrast). Pass
``single_task=True`` for a strictly file-ordered replay at the cost of
all parallelism (one put loop), e.g. when the consumer requires the
original write order within the single shard a fixed partition key maps
to.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from kinesis_spark.streaming.ingest import IngestMetrics, start_ingest_query


def replay_table(
    spark: SparkSession,
    parquet_dir: str,
    client_factory: Callable[[], object],
    stream_name: str,
    partition_key: str,
    *,
    to_payload: Column | None = None,
    single_task: bool = False,
    timeout_seconds: float = 300.0,
    **ingest_kwargs,
) -> IngestMetrics:
    """Drain every row of ``parquet_dir`` into the PutRecords sink and
    return the ingest metrics (records/bytes put, calls, retries, drops).

    ``to_payload`` overrides the default one-JSON-line-per-row
    serialization with any binary Column over the table's columns.
    ``ingest_kwargs`` pass through to ``start_ingest_query`` (limits,
    throttle, checkpoint_dir, ...). Raises if the drain does not finish
    within ``timeout_seconds`` — a replay that silently half-finished
    would be worse than a loud one.
    """
    schema = spark.read.parquet(parquet_dir).schema
    src = spark.readStream.schema(schema).parquet(parquet_dir)
    if to_payload is None:
        to_payload = F.concat(
            F.to_json(F.struct(*[F.col(f.name) for f in schema.fields])),
            F.lit("\n"),
        ).cast("binary")
    data = src.select(to_payload.alias("data"))
    if single_task:
        data = data.coalesce(1)
    query, metrics = start_ingest_query(
        data,
        client_factory,
        stream_name,
        partition_key,
        available_now=True,
        query_name=f"replay_{stream_name}",
        **ingest_kwargs,
    )
    try:
        finished = query.awaitTermination(timeout_seconds)
        if not finished:
            raise TimeoutError(
                f"replay of {parquet_dir!r} did not drain within "
                f"{timeout_seconds}s (records_put so far: {metrics.records_put})"
            )
    finally:
        if query.isActive:
            query.stop()
    return metrics
