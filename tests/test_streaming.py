"""Streaming ingest tests — EP3 soak analog (bench/main.go) and the
load-shed valve. Kept short (a few trigger periods each) for CI stability.
"""

from __future__ import annotations

import base64
import glob
import json
import os
import time
import uuid

import pytest

from kinesis_spark.streaming.ingest import build_rate_source, start_ingest_query
from kinesis_spark.streaming.spool import SpoolStreamClient

SPOOL = "/tmp/kinesis_spark_spool"


class SpoolClient:
    """put_records fake usable inside executor tasks: appends JSON lines."""

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir

    def put_records(self, stream_name, records):
        os.makedirs(self.spool_dir, exist_ok=True)
        path = os.path.join(self.spool_dir, f"{uuid.uuid4().hex}.jsonl")
        with open(path, "w") as f:
            for r in records:
                f.write(
                    json.dumps(
                        {
                            "stream": stream_name,
                            "pk": r.partition_key,
                            "n": len(r.data),
                        }
                    )
                    + "\n"
                )
        return [{} for _ in records]


def _spool_entries(spool_dir):
    out = []
    for p in glob.glob(f"{spool_dir}/*.jsonl"):
        with open(p) as f:
            out.extend(json.loads(line) for line in f)
    return out


def _run_query(spark, spool_dir, **kwargs):
    src = build_rate_source(spark, rows_per_second=100, payload_bytes=1024, num_partitions=2)
    query, metrics = start_ingest_query(
        src,
        client_factory=lambda: SpoolClient(spool_dir),
        stream_name="bench-stream",
        partition_key="pk",
        trigger_seconds=0.5,
        **kwargs,
    )
    deadline = time.time() + 45
    try:
        while time.time() < deadline and metrics.batches < 4:
            time.sleep(0.25)
        assert metrics.batches >= 4, f"only {metrics.batches} batches ran"
    finally:
        query.stop()
    return metrics


@pytest.mark.streaming
def test_soak_no_drops(spark, tmp_path):
    """Reference bench parity: 100 KiB/s offered load, zero drops tolerated
    (bench/main.go:18-29 — Dropped → log.Fatal)."""
    spool = str(tmp_path / "spool")
    metrics = _run_query(spark, spool)
    assert metrics.rows_dropped == 0
    assert metrics.records_put > 0
    entries = _spool_entries(spool)
    assert entries, "no PutRecords calls reached the spool"
    assert {e["stream"] for e in entries} == {"bench-stream"}
    assert {e["pk"] for e in entries} == {"pk"}
    assert {e["n"] for e in entries} == {1024}  # 1 chunk per 1024-B payload


@pytest.mark.streaming
def test_shed_when_over_budget(spark, tmp_path):
    """Load-shed valve: tiny per-batch byte budget → drops counted, never
    silent (SURVEY.md §4 quirk 4)."""
    spool = str(tmp_path / "spool")
    metrics = _run_query(spark, spool, max_bytes_per_batch=2048)
    assert metrics.rows_dropped > 0
    assert metrics.bytes_dropped >= metrics.rows_dropped * 1024
    # admitted rows still flowed to the sink
    assert metrics.records_put > 0


@pytest.mark.streaming
def test_chunking_in_stream(spark, tmp_path):
    """Payloads above the record limit are chunked executor-side."""
    spool = str(tmp_path / "spool")
    src = build_rate_source(spark, rows_per_second=20, payload_bytes=1000, num_partitions=2)
    query, metrics = start_ingest_query(
        src,
        client_factory=lambda: SpoolClient(spool),
        stream_name="s",
        partition_key="key",  # chunk_size = 300 - 3 = 297
        record_size_limit=300,
        trigger_seconds=0.5,
    )
    deadline = time.time() + 20
    try:
        while time.time() < deadline and metrics.records_put == 0:
            time.sleep(0.25)
    finally:
        query.stop()
    entries = _spool_entries(spool)
    assert entries
    sizes = sorted({e["n"] for e in entries})
    assert sizes == [109, 297], sizes  # 1000 = 3*297 + 109


class FlakyClient(SpoolClient):
    """Fails every record on its first attempt (ErrorCode set), succeeds
    on retry — exercises the at-least-once path per partition task."""

    def __init__(self, spool_dir: str):
        super().__init__(spool_dir)
        self._seen: set = set()

    def put_records(self, stream_name, records):
        responses = []
        fresh = []
        for r in records:
            key = (r.partition_key, bytes(r.data))
            if key in self._seen:
                fresh.append(r)
                responses.append({})
            else:
                self._seen.add(key)
                responses.append({"ErrorCode": "ProvisionedThroughputExceededException"})
        if fresh:
            super().put_records(stream_name, fresh)
        return responses


@pytest.mark.streaming
def test_error_code_records_are_retried(spark, tmp_path):
    """SURVEY.md §4 quirk 2 fix: the reference discards PutRecordsOutput;
    our sink re-puts ErrorCode entries → at-least-once delivery."""
    spool = str(tmp_path / "spool")
    src = build_rate_source(spark, rows_per_second=50, payload_bytes=512,
                            num_partitions=2)
    query, metrics = start_ingest_query(
        src,
        client_factory=lambda: FlakyClient(spool),
        stream_name="retry-stream",
        partition_key="pk",
        trigger_seconds=0.5,
    )
    deadline = time.time() + 30
    try:
        while time.time() < deadline and metrics.records_put < 20:
            time.sleep(0.25)
    finally:
        query.stop()
    assert metrics.records_retried > 0, "no retries happened"
    assert metrics.records_put >= 20
    entries = _spool_entries(spool)
    # every spooled record arrived exactly once despite first-try failures
    assert len(entries) == metrics.records_put


@pytest.mark.streaming
def test_text_file_source_ingest(spark, tmp_path):
    """Streaming EP1 parity: a directory of text files flows through
    chunk -> tag -> batch -> put; every line's bytes arrive."""
    from kinesis_spark.streaming.ingest import build_text_source

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    lines = [f"line-{i:04d}-" + "z" * 50 for i in range(200)]
    (src_dir / "a.txt").write_text("\n".join(lines) + "\n")
    spool = str(tmp_path / "spool")

    src = build_text_source(spark, str(src_dir))
    query, metrics = start_ingest_query(
        src,
        client_factory=lambda: SpoolClient(spool),
        stream_name="txt",
        partition_key="pk",
        trigger_seconds=0.5,
    )
    deadline = time.time() + 30
    try:
        while time.time() < deadline and metrics.records_put < len(lines):
            time.sleep(0.25)
    finally:
        query.stop()
    entries = _spool_entries(spool)
    assert sum(e["n"] for e in entries) == sum(len(l) for l in lines)


@pytest.mark.streaming
def test_shard_rate_throttle_caps_put_rate(spark, tmp_path):
    """Dead-constant enforcement (SURVEY.md §1.3): with a 50 records/s
    shard limit against 100 offered rows/s, delivery is throttled."""
    spool = str(tmp_path / "spool")
    src = build_rate_source(spark, rows_per_second=100, payload_bytes=256,
                            num_partitions=1)
    query, metrics = start_ingest_query(
        src,
        client_factory=lambda: SpoolClient(spool),
        stream_name="throttled",
        partition_key="pk",
        trigger_seconds=0.5,
        shard_rate_limits=(50.0, 10**9),
    )
    import time as _t
    t0 = _t.time()
    first = first_t = None
    try:
        while _t.time() - t0 < 20:
            _t.sleep(0.25)
            if first is None and metrics.records_put > 0:
                first, first_t = metrics.records_put, _t.time()
            if first_t is not None and _t.time() - first_t >= 6:
                break
    finally:
        query.stop()
    assert first is not None, "nothing delivered"
    elapsed = _t.time() - first_t
    rate = (metrics.records_put - first) / elapsed
    # well under the 100/s offered load; some slack over 50 for burst
    assert rate <= 70, f"throttle ineffective: {rate:.0f} rec/s"
    assert metrics.records_put > 0


@pytest.mark.streaming
def test_progress_listener_reports_input_rows(spark, tmp_path):
    from kinesis_spark.streaming.ingest import attach_progress_listener

    spool = str(tmp_path / "spool")
    src = build_rate_source(spark, rows_per_second=50, payload_bytes=256,
                            num_partitions=1)
    query, metrics = start_ingest_query(
        src,
        client_factory=lambda: SpoolClient(spool),
        stream_name="obs",
        partition_key="pk",
        trigger_seconds=0.5,
        query_name="obs_query",
    )
    listener = attach_progress_listener(spark, metrics, "obs_query")
    deadline = time.time() + 30
    try:
        while time.time() < deadline and metrics.input_rows == 0:
            time.sleep(0.25)
    finally:
        query.stop()
        spark.streams.removeListener(listener)
    assert metrics.input_rows > 0
    assert metrics.last_batch_duration_ms >= 0


class CallLog:
    """put_records fake for bounded drains: appends one JSON line per call
    (wall time, record sizes) to ``log_path`` and spools the records it
    accepts with ``SpoolStreamClient``. ``mode`` picks the injected fault:
    ``"fail_first"`` fails each record's first attempt, ``"short"``
    answers the first call one response short (and does not spool that
    record), ``"fail"`` fails every record."""

    def __init__(self, spool_dir: str, log_path: str, mode: str | None = None):
        self.spool = SpoolStreamClient(spool_dir)
        self.log_path = log_path
        self.mode = mode
        self.calls = 0
        self.seen: set = set()

    def put_records(self, stream_name, records):
        self.calls += 1
        with open(self.log_path, "a") as f:
            f.write(json.dumps({"t": time.time(),
                                "sizes": [len(r.data) for r in records]}) + "\n")
        if self.mode == "fail":
            return [{"ErrorCode": "InternalFailure"}] * len(records)
        if self.mode == "short" and self.calls == 1:
            records = records[:-1]
        ok = [self.mode != "fail_first" or bytes(r.data) in self.seen for r in records]
        self.seen.update(bytes(r.data) for r in records)
        accepted = [r for r, good in zip(records, ok) if good]
        if accepted:
            self.spool.put_records(stream_name, accepted)
        return [{} if good else {"ErrorCode": "ProvisionedThroughputExceededException"}
                for good in ok]


LINES = [f"line-{i:03d}-" + "z" * (i % 23) for i in range(40)]


def _calls(log_path: str) -> list[dict]:
    with open(log_path) as f:
        return [json.loads(line) for line in f]


def _spooled_chunks(spool: str) -> list[bytes]:
    return [base64.b64decode(e["data"]) for e in _spool_entries(spool)]


def _drain(spark, tmp_path, mode=None, **kwargs):
    """One availableNow drain of ``LINES`` (one text file, coalesced to
    one partition, so one put task) through a ``CallLog`` client."""
    from kinesis_spark.streaming.ingest import build_text_source

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "a.txt").write_text("\n".join(LINES) + "\n")
    spool, log_path = str(tmp_path / "spool"), str(tmp_path / "calls.jsonl")
    query, metrics = start_ingest_query(
        build_text_source(spark, str(src_dir)).coalesce(1),
        client_factory=lambda: CallLog(spool, log_path, mode),
        stream_name="drain",
        partition_key="pk",
        available_now=True,
        **kwargs,
    )
    return query, metrics, spool, log_path


@pytest.mark.streaming
def test_sink_packs_requests_like_writer_put(spark, tmp_path):
    """Under small count and size caps, the sink's requests are exactly
    the batches ``Writer.put`` packs from the same chunks."""
    from kinesis_spark.ingest.writer import Record, Writer

    query, metrics, spool, log_path = _drain(
        spark, tmp_path, put_records_limit=4, put_records_size_limit=80
    )
    assert query.awaitTermination(60)
    seen = [s for c in _calls(log_path) for s in c["sizes"]]
    chunks = _spooled_chunks(spool)
    assert sorted(chunks) == sorted(line.encode() for line in LINES)

    # chunks of the same sizes, in the order the sink put them, through
    # Writer.put (packing depends on sizes only)
    local = CallLog(str(tmp_path / "local"), str(tmp_path / "local.jsonl"))
    Writer(local, "drain", "pk", put_records_limit=4,
           put_records_size_limit=80).put(Record("pk", b"x" * n) for n in seen)
    want = [c["sizes"] for c in _calls(str(tmp_path / "local.jsonl"))]
    got = [c["sizes"] for c in _calls(log_path)]
    assert got == want
    assert len(got) > -(-len(LINES) // 4)  # the size cap cut some batches
    assert metrics.put_calls == len(got) and metrics.records_put == len(LINES)


@pytest.mark.streaming
def test_sink_retries_records_missing_a_response(spark, tmp_path):
    """A response list one entry short leaves that record without
    delivery evidence: it is re-put, and every chunk lands exactly once."""
    query, metrics, spool, _ = _drain(spark, tmp_path, mode="short")
    assert query.awaitTermination(60)
    assert sorted(_spooled_chunks(spool)) == sorted(line.encode() for line in LINES)
    assert metrics.records_retried > 0
    assert metrics.records_put == len(LINES)


@pytest.mark.streaming
def test_sink_failure_raises_and_records_error(spark, tmp_path):
    """Records that still fail after the retries fail the query, and the
    metrics mirror says why."""
    from pyspark.errors import StreamingQueryException

    query, metrics, spool, _ = _drain(spark, tmp_path, mode="fail")
    with pytest.raises(StreamingQueryException):
        query.awaitTermination(60)
    assert metrics.errors
    assert not os.path.isdir(spool)  # nothing was accepted


@pytest.mark.streaming
def test_sink_retry_backs_off(spark, tmp_path):
    """Un-throttled (the default), a failed put is retried after the
    writer's backoff, not in the same throttled second."""
    query, metrics, spool, log_path = _drain(spark, tmp_path, mode="fail_first")
    assert query.awaitTermination(60)
    calls = _calls(log_path)
    assert len(calls) == 2  # every record fails once, then succeeds
    assert calls[1]["t"] - calls[0]["t"] >= 0.2
    assert metrics.records_retried == len(LINES)
    assert sorted(_spooled_chunks(spool)) == sorted(line.encode() for line in LINES)
