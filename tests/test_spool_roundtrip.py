"""End-to-end ingest round trip: payloads → chunk → PutRecords spool sink →
``kinesis_consumer`` source → io.Copy reassembly → original bytes.

This is the "Kinesis source" half of the north star: the reference only
writes (kinesis/kinesis.go:199-242); a consumer reads records per shard in
sequence order and concatenates Data. The round trip must be byte-exact
even when payloads straddle chunk boundaries (record_size_limit forces
multi-chunk payloads here).
"""

from __future__ import annotations

import time

import pytest

from kinesis_spark.streaming.ingest import build_text_source, start_ingest_query
from kinesis_spark.streaming.kinesis_source import KinesisConsumerDataSource
from kinesis_spark.streaming.spool import SpoolStreamClient, reassemble_records

# Deterministic ASCII payloads, sizes chosen to straddle the 101-byte chunk
# size below (1 under, exact, 1 over, multiple, large remainder).
PAYLOADS = [
    bytes((33 + (i * 7 + j) % 90) for j in range(n))
    for i, n in enumerate([1, 100, 101, 102, 250, 1000])
]
RECORD_SIZE_LIMIT = 103  # minus len("pk") → 101-byte chunks
CHUNK = RECORD_SIZE_LIMIT - len("pk")
EXPECTED_CHUNKS = sum(-(-len(p) // CHUNK) for p in PAYLOADS)
STREAM = "roundtrip"


def _records(spark, spool: str, streaming: bool = False):
    """The spool read back through the ``kinesis_consumer`` source."""
    spark.dataSource.register(KinesisConsumerDataSource)
    return (
        (spark.readStream if streaming else spark.read)
        .format("kinesis_consumer")
        .option("spool_dir", spool)
        .option("stream", STREAM)
        .load()
    )


def _ingest(spark, indir: str, spool: str) -> None:
    src = build_text_source(spark, indir)
    query, metrics = start_ingest_query(
        src,
        client_factory=lambda: SpoolStreamClient(spool),
        stream_name=STREAM,
        partition_key="pk",
        record_size_limit=RECORD_SIZE_LIMIT,
        trigger_seconds=0.5,
    )
    deadline = time.time() + 60
    try:
        while time.time() < deadline and metrics.records_put < EXPECTED_CHUNKS:
            time.sleep(0.25)
        assert metrics.records_put == EXPECTED_CHUNKS, (
            f"put {metrics.records_put} records, expected {EXPECTED_CHUNKS}"
        )
    finally:
        query.stop()
    assert metrics.bytes_put == sum(len(p) for p in PAYLOADS)
    assert metrics.rows_dropped == 0


@pytest.mark.streaming
def test_spool_round_trip_bytes_exact(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    # single input file → single source partition → line order preserved
    (indir / "payloads.txt").write_bytes(b"\n".join(PAYLOADS) + b"\n")
    spool = str(tmp_path / "spool")

    _ingest(spark, str(indir), spool)

    # read the spool back as a stream (availableNow drains it exactly once)
    out_name = "rt_records"
    q = (
        _records(spark, spool, streaming=True)
        .writeStream.format("memory")
        .queryName(out_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    records = spark.table(out_name)
    assert records.count() == EXPECTED_CHUNKS

    row = reassemble_records(records).collect()
    assert len(row) == 1  # one partition key → one shard-stream
    got = bytes(row[0].stream_bytes)
    want = b"".join(PAYLOADS)
    assert got == want, (
        f"round trip mismatch: {len(got)} bytes out vs {len(want)} in"
    )
    assert row[0].n_records == EXPECTED_CHUNKS
    assert row[0].n_bytes == len(want)

    # batch reader sees the identical record set
    batch = _records(spark, spool)
    assert batch.count() == EXPECTED_CHUNKS
    assert bytes(reassemble_records(batch).collect()[0].stream_bytes) == want


@pytest.mark.streaming
def test_spool_records_respect_size_limit(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "payloads.txt").write_bytes(b"\n".join(PAYLOADS) + b"\n")
    spool = str(tmp_path / "spool")

    _ingest(spark, str(indir), spool)

    import pyspark.sql.functions as F

    sizes = (
        _records(spark, spool)
        .select(F.length("data").alias("n"))
        .collect()
    )
    assert all(r.n <= CHUNK for r in sizes)
    # every chunk except per-payload remainders is exactly CHUNK bytes
    full = sum(1 for r in sizes if r.n == CHUNK)
    expected_full = sum(len(p) // CHUNK for p in PAYLOADS)
    assert full == expected_full
