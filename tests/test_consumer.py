"""Kinesis read-side round trip: bytes → chunk → PutRecords spool sink →
consumer (GetShardIterator/GetRecords) → reassembly → original bytes,
batch (one task per shard) and streaming (Python Data Source with
per-shard sequence-number offsets, checkpointed resume).

The reference is write-only (kinesis/kinesis.go:221 PutRecords); this is
the consumer its users run downstream, in the same API shape."""

from __future__ import annotations

import pytest

from kinesis_spark.ingest.chunker import chunk_bytes
from kinesis_spark.ingest.consumer import (
    SpoolConsumerClient,
    read_stream_batch,
    shard_for_key,
)
from kinesis_spark.ingest.writer import Record
from kinesis_spark.streaming.spool import SpoolStreamClient, reassemble_records

CHUNK = 101
PAYLOADS = {
    # sizes straddle the chunk size: 1 under, exact, 1 over, multi, large
    f"pk{i}": bytes((33 + (i * 11 + j) % 90) for j in range(n))
    for i, n in enumerate([1, 100, 101, 102, 250, 1000])
}
STREAM = "rt-consumer"


def _spool_with_payloads(tmp_path) -> str:
    spool = str(tmp_path / "spool")
    sink = SpoolStreamClient(spool)
    for pk, payload in PAYLOADS.items():
        sink.put_records(
            STREAM, [Record(data=c, partition_key=pk) for c in chunk_bytes(payload, CHUNK)]
        )
    return spool


def _assert_roundtrip(rows) -> None:
    got = {r.pk: bytes(r.stream_bytes) for r in rows}
    assert got == PAYLOADS


def test_consumer_batch_roundtrip(spark, tmp_path):
    spool = _spool_with_payloads(tmp_path)
    df = read_stream_batch(
        spark, lambda: SpoolConsumerClient(spool), STREAM, limit_per_call=3
    )
    rows = df.collect()
    expected_chunks = sum(-(-len(p) // CHUNK) for p in PAYLOADS.values())
    assert len(rows) == expected_chunks
    # every record landed on the shard its key hashes to
    assert all(r.shard_id == shard_for_key(r.pk) for r in rows)
    _assert_roundtrip(reassemble_records(df).collect())


def test_consumer_iterator_semantics(tmp_path):
    """LATEST sees only post-iterator records; AFTER_SEQUENCE_NUMBER
    resumes mid-shard; MillisBehindLatest reaches 0 at the tip."""
    spool = str(tmp_path / "spool")
    sink = SpoolStreamClient(spool)
    consumer = SpoolConsumerClient(spool)
    pk = "pk0"
    shard = shard_for_key(pk)

    sink.put_records(STREAM, [Record(data=b"a", partition_key=pk)])
    latest_it = consumer.get_shard_iterator(STREAM, shard, "LATEST")
    sink.put_records(STREAM, [Record(data=b"b", partition_key=pk)])

    resp = consumer.get_records(latest_it)
    assert [r["Data"] for r in resp["Records"]] == [b"b"]
    assert resp["MillisBehindLatest"] == 0

    horizon = consumer.get_shard_iterator(STREAM, shard, "TRIM_HORIZON")
    first = consumer.get_records(horizon, limit=1)
    assert [r["Data"] for r in first["Records"]] == [b"a"]
    assert first["MillisBehindLatest"] > 0  # not at the tip yet
    resumed = consumer.get_shard_iterator(
        STREAM, shard, "AFTER_SEQUENCE_NUMBER", first["Records"][0]["SequenceNumber"]
    )
    rest = consumer.get_records(resumed)
    assert [r["Data"] for r in rest["Records"]] == [b"b"]
    # tip reached: the (still valid) next iterator returns an empty page
    tail = consumer.get_records(rest["NextShardIterator"])
    assert tail["Records"] == [] and tail["MillisBehindLatest"] == 0


@pytest.mark.streaming
def test_consumer_streaming_roundtrip_and_resume(spark, tmp_path):
    from kinesis_spark.streaming.kinesis_source import KinesisConsumerDataSource

    spool = _spool_with_payloads(tmp_path)
    spark.dataSource.register(KinesisConsumerDataSource)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("kinesis_consumer")
            .option("spool_dir", spool)
            .option("stream", STREAM)
            .option("limit_per_call", "3")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    got = spark.read.parquet(out)
    expected_chunks = sum(-(-len(p) // CHUNK) for p in PAYLOADS.values())
    assert got.count() == expected_chunks
    _assert_roundtrip(reassemble_records(got).collect())

    # resume from the checkpointed per-shard sequence offsets: a second
    # drain ingests ONLY records written after the first one
    SpoolStreamClient(spool).put_records(
        STREAM, [Record(data=b"late-arrival", partition_key="pk0")]
    )
    drain()
    got2 = spark.read.parquet(out)
    assert got2.count() == expected_chunks + 1
    rows = {r.pk: bytes(r.stream_bytes) for r in reassemble_records(got2).collect()}
    assert rows["pk0"] == PAYLOADS["pk0"] + b"late-arrival"


def test_consumer_batch_format_api(spark, tmp_path):
    """spark.read.format('kinesis_consumer') — the batch twin of the
    streaming source — sees the same record set as read_stream_batch."""
    from kinesis_spark.streaming.kinesis_source import KinesisConsumerDataSource

    spool = _spool_with_payloads(tmp_path)
    spark.dataSource.register(KinesisConsumerDataSource)
    df = (
        spark.read.format("kinesis_consumer")
        .option("spool_dir", spool)
        .option("stream", STREAM)
        .load()
    )
    expected_chunks = sum(-(-len(p) // CHUNK) for p in PAYLOADS.values())
    assert df.count() == expected_chunks
    _assert_roundtrip(reassemble_records(df).collect())


@pytest.mark.streaming
def test_consumer_feeds_event_time_analytics(spark, tmp_path):
    """Composition: the consumer source feeds the event-time stack —
    sequence numbers carry the put wall-clock (streaming/spool.py:14),
    parsed into a timestamp and windowed like any event stream."""
    import pyspark.sql.functions as F

    from kinesis_spark.streaming.kinesis_source import KinesisConsumerDataSource

    spool = _spool_with_payloads(tmp_path)
    spark.dataSource.register(KinesisConsumerDataSource)
    src = (
        spark.readStream.format("kinesis_consumer")
        .option("spool_dir", spool)
        .option("stream", STREAM)
        .load()
        .withColumn(
            "ts", F.timestamp_seconds(F.substring("seq", 1, 20).cast("long") / 1e9)
        )
    )
    agg = (
        src.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 minute"), "pk")
        .agg(F.count(F.lit(1)).alias("n_records"), F.sum(F.length("data")).alias("n_bytes"))
    )
    # complete mode: a single availableNow drain emits every window
    # without waiting for the watermark to close them
    q = (
        agg.writeStream.format("memory")
        .queryName("consumer_windows")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("consumer_windows").collect()
    got = {}
    for r in rows:
        got[r.pk] = got.get(r.pk, 0) + r.n_bytes
    assert got == {pk: len(p) for pk, p in PAYLOADS.items()}


def test_consumer_roundtrip_property():
    """Pure-Python property: any sequence of put calls reassembles
    byte-exactly per key through the shard-iterator surface."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.sampled_from(["k1", "k2", "k3"]),
                st.binary(min_size=0, max_size=300),
            ),
            min_size=1,
            max_size=12,
        )
    )
    def check(puts):
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            spool = d + "/spool"
            sink = SpoolStreamClient(spool)
            expected: dict[str, bytes] = {}
            for pk, payload in puts:
                chunks = chunk_bytes(payload, 64)
                # empty payload -> zero chunks (SURVEY §4 quirk 6): no
                # record exists, so the key must not appear downstream
                if not chunks:
                    continue
                sink.put_records(
                    "prop", [Record(data=c, partition_key=pk) for c in chunks]
                )
                expected[pk] = expected.get(pk, b"") + payload
            consumer = SpoolConsumerClient(spool)
            got: dict[str, bytes] = {}
            for shard in consumer.list_shards("prop"):
                token = consumer.get_shard_iterator("prop", shard)
                while True:
                    resp = consumer.get_records(token, limit=2)
                    for r in resp["Records"]:
                        got[r["PartitionKey"]] = (
                            got.get(r["PartitionKey"], b"") + r["Data"]
                        )
                    if not resp["Records"] and resp["MillisBehindLatest"] == 0:
                        break
                    token = resp["NextShardIterator"]
            assert got == expected

    check()


def test_retrying_consumer_backs_off_and_recovers(tmp_path):
    """GetRecords throttles retry with deterministic exponential backoff
    at the client seam; the caller's iterator loop never sees them."""
    from kinesis_spark.ingest.consumer import RetryingConsumer, ThrottledError

    spool = str(tmp_path / "spool")
    SpoolStreamClient(spool).put_records(
        STREAM, [Record(data=b"payload", partition_key="pk0")]
    )

    class Flaky:
        def __init__(self, inner, fail_times):
            self.inner, self.fails, self.calls = inner, fail_times, 0

        def list_shards(self, s):
            return self.inner.list_shards(s)

        def get_shard_iterator(self, *a, **kw):
            return self.inner.get_shard_iterator(*a, **kw)

        def get_records(self, it, limit=10000):
            self.calls += 1
            if self.calls <= self.fails:
                raise ThrottledError("slow down")
            return self.inner.get_records(it, limit)

    naps = []
    client = RetryingConsumer(
        Flaky(SpoolConsumerClient(spool), fail_times=3),
        base_backoff_s=0.1,
        sleeper=naps.append,
    )
    shard = shard_for_key("pk0")
    resp = client.get_records(client.get_shard_iterator(STREAM, shard))
    assert [r["Data"] for r in resp["Records"]] == [b"payload"]
    assert naps == [0.1, 0.2, 0.4]  # deterministic exponential ladder

    # exhaustion re-raises: 7 failures > 5 retries
    exhausted = RetryingConsumer(
        Flaky(SpoolConsumerClient(spool), fail_times=7), sleeper=lambda s: None
    )
    with pytest.raises(ThrottledError):
        exhausted.get_records(exhausted.get_shard_iterator(STREAM, shard))


def test_retrying_consumer_drives_batch_read(spark, tmp_path):
    """The retry wrapper slots into the same factory seam: a client that
    throttles every other call still yields the full record set."""
    from kinesis_spark.ingest.consumer import RetryingConsumer, ThrottledError

    spool = _spool_with_payloads(tmp_path)

    class EveryOther:
        def __init__(self):
            self.inner = SpoolConsumerClient(spool)
            self.n = 0

        def list_shards(self, s):
            return self.inner.list_shards(s)

        def get_shard_iterator(self, *a, **kw):
            return self.inner.get_shard_iterator(*a, **kw)

        def get_records(self, it, limit=10000):
            self.n += 1
            if self.n % 2 == 1:
                raise ThrottledError("throttle")
            return self.inner.get_records(it, limit)

    df = read_stream_batch(
        spark,
        lambda: RetryingConsumer(EveryOther(), sleeper=lambda s: None),
        STREAM,
        limit_per_call=3,
    )
    _assert_roundtrip(reassemble_records(df).collect())


@pytest.mark.streaming
def test_consumer_feeds_streaming_prep_intake(spark, tmp_path):
    """The full ingestion-to-prep pipe a reference user would build:
    documents put to Kinesis as JSON records -> kinesis_consumer source
    -> parse -> gate + cross-batch exact dedup (streaming/prep.py).
    Duplicate documents across separate put calls collapse to one
    survivor."""
    import json as _json

    import pyspark.sql.functions as F

    from kinesis_spark.streaming.kinesis_source import KinesisConsumerDataSource
    from kinesis_spark.streaming.prep import exact_dedup_stream

    text_ok = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        {"doc_id": 1, "text": text_ok, "lang": "en"},
        {"doc_id": 2, "text": text_ok, "lang": "en"},          # exact dup of 1
        {"doc_id": 3, "text": text_ok + " extended", "lang": "en"},
        {"doc_id": 4, "text": text_ok, "lang": "zz"},           # gated: lang
        {"doc_id": 5, "text": "too short", "lang": "en"},       # gated: tokens
    ]
    spool = str(tmp_path / "spool")
    sink = SpoolStreamClient(spool)
    for d in docs:  # one put call per doc = separate micro-batch records
        sink.put_records(
            "prep", [Record(data=_json.dumps(d).encode(), partition_key=f"pk{d['doc_id']}")]
        )

    spark.dataSource.register(KinesisConsumerDataSource)
    src = (
        spark.readStream.format("kinesis_consumer")
        .option("spool_dir", spool)
        .option("stream", "prep")
        .load()
        .select(
            F.from_json(
                F.col("data").cast("string"), "doc_id LONG, text STRING, lang STRING"
            ).alias("d")
        )
        .select("d.*")
    )
    q = (
        exact_dedup_stream(src)
        .writeStream.format("memory")
        .queryName("prep_survivors")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    survivors = {r.doc_id for r in spark.table("prep_survivors").collect()}
    # doc 2 deduped against 1 (first arrival wins), 4/5 gated, 3 distinct
    assert survivors == {1, 3}


def test_consumer_batch_empty_stream_is_empty_df(spark, tmp_path):
    """Reading before the producer ever wrote: empty DataFrame, not a
    NoneType crash (PySpark hands read() a [None] partition list)."""
    from kinesis_spark.streaming.kinesis_source import KinesisConsumerDataSource

    empty = tmp_path / "empty_spool"
    empty.mkdir()
    spark.dataSource.register(KinesisConsumerDataSource)
    df = (
        spark.read.format("kinesis_consumer")
        .option("spool_dir", str(empty))
        .option("stream", STREAM)
        .load()
    )
    assert df.count() == 0


@pytest.mark.parametrize("read_path", ["stream_reader", "batch_read"])
def test_stream_reader_survives_empty_mid_stream_pages(read_path, request, tmp_path):
    """An empty GetRecords page with MillisBehindLatest > 0 (routine on
    real Kinesis) must keep iterating, not truncate the read — on both
    Spark readers, which share ``iter_shard``'s stop rule."""
    from kinesis_spark.streaming.kinesis_source import (
        KinesisShardStreamReader,
        ShardRange,
    )

    spool = str(tmp_path / "spool")
    sink = SpoolStreamClient(spool)
    pk = "pk0"
    for i in range(5):
        sink.put_records(STREAM, [Record(data=bytes([65 + i]), partition_key=pk)])

    class EmptyPagey(SpoolConsumerClient):
        """Every other page comes back empty but still behind."""

        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.n = 0

        def get_records(self, it, limit=10000):
            self.n += 1
            if self.n % 2 == 1:
                return {
                    "Records": [],
                    "NextShardIterator": it,
                    "MillisBehindLatest": 1,
                }
            return super().get_records(it, min(limit, 2))

    factory = lambda: EmptyPagey(spool)  # noqa: E731
    if read_path == "stream_reader":
        reader = KinesisShardStreamReader({"spool_dir": spool, "stream": STREAM})
        reader._client = factory
        shard = shard_for_key(pk)
        tip = SpoolConsumerClient(spool).latest_sequence_numbers(STREAM)[shard]
        rows = list(reader.read(ShardRange(shard, "", tip)))
    else:
        spark = request.getfixturevalue("spark")
        rows = read_stream_batch(spark, factory, STREAM).collect()
    assert b"".join(bytes(r[3]) for r in rows) == b"ABCDE"
