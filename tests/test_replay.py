"""Table-to-stream backfill: every row arrives in the sink exactly once
as a parseable JSON line, drop/put accounting holds, and single-task
mode preserves file order."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from kinesis_spark.replay import replay_table
from kinesis_spark.streaming.kinesis_source import KinesisConsumerDataSource
from kinesis_spark.streaming.spool import SpoolStreamClient


def _records(spark, spool: str, stream: str):
    """Records put to ``stream``, read back through the
    ``kinesis_consumer`` source."""
    spark.dataSource.register(KinesisConsumerDataSource)
    return (
        spark.read.format("kinesis_consumer")
        .option("spool_dir", spool)
        .option("stream", stream)
        .load()
    )


def _table(spark, path: str, n: int = 40) -> None:
    spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("payload-"), F.col("id")).alias("text"),
    ).coalesce(2).write.parquet(path)


def test_replay_delivers_every_row_once_as_json(spark, tmp_path):
    table = str(tmp_path / "table")
    spool = str(tmp_path / "spool")
    _table(spark, table)

    m = replay_table(
        spark, table, lambda: SpoolStreamClient(spool), "events-replay", "pk-1"
    )
    assert m.rows_dropped == 0 and m.bytes_dropped == 0
    assert m.records_put == 40  # one JSON line per row, none chunk-split

    rows = _records(spark, spool, "events-replay").collect()
    assert len(rows) == 40
    # every record put is found under the replay's stream name
    assert len(rows) == m.records_put
    assert all(r.pk == "pk-1" for r in rows)
    seen = {json.loads(bytes(r.data).decode())["doc_id"] for r in rows}
    assert seen == set(range(40))
    # newline framing: the concatenated stream is line-parseable
    assert all(bytes(r.data).endswith(b"\n") for r in rows)


def test_replay_single_task_preserves_file_order(spark, tmp_path):
    table = str(tmp_path / "table")
    spool = str(tmp_path / "spool")
    spark.range(30).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    ).coalesce(1).write.parquet(table)

    replay_table(
        spark, table, lambda: SpoolStreamClient(spool), "s", "pk",
        single_task=True,
    )
    rows = _records(spark, spool, "s").orderBy("seq").collect()
    ids = [json.loads(bytes(r.data).decode())["doc_id"] for r in rows]
    assert ids == list(range(30))  # spool seq order == single-file row order


def test_replay_custom_payload_and_chunking(spark, tmp_path):
    """A caller payload bigger than the record limit is chunk-split by
    the downstream pipeline (the §2A-3 operator), not rejected."""
    table = str(tmp_path / "table")
    spool = str(tmp_path / "spool")
    spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("A" * 250), F.col("id")).alias("text"),
    ).coalesce(1).write.parquet(table)

    m = replay_table(
        spark, table, lambda: SpoolStreamClient(spool), "s", "key",
        to_payload=F.col("text").cast("binary"),
        record_size_limit=103,  # minus len("key") -> 100-byte chunks
        single_task=True,
    )
    # each 251-byte payload splits into ceil(251/100) = 3 records
    assert m.records_put == 9
    rows = _records(spark, spool, "s").orderBy("seq").collect()
    assert len(rows) == 9
    # seq order reconstructs the byte stream exactly: payloads in row
    # order, each payload's chunks contiguous and in order
    stream = b"".join(bytes(r.data) for r in rows)
    assert stream == b"".join(
        b"A" * 250 + str(i).encode() for i in range(3)
    )
