"""Port of the reference's three golden tests
(/root/reference/kinesis/kinesis_test.go:12-91): expected PutRecords calls
against a fake client, with shrunk limits.
"""

from __future__ import annotations

from kinesis_spark.ingest.writer import PutRecordsError, Record, Writer


class FakeClient:
    """Records every call; the kinesisClient seam (kinesis/kinesis.go:171-173)."""

    def __init__(self, fail_codes: list[list[str | None]] | None = None):
        self.calls: list[tuple[str, list[Record]]] = []
        self._fail_codes = fail_codes or []

    def put_records(self, stream_name, records):
        self.calls.append((stream_name, list(records)))
        if self._fail_codes:
            codes = self._fail_codes.pop(0)
            return [{"ErrorCode": c} if c else {} for c in codes]
        return [{} for _ in records]


def test_write_small():
    # kinesis_test.go:12-34 — 1-byte payload, one call with one record
    c = FakeClient()
    w = Writer(c, "stream", "key", record_size_limit=1000, put_records_limit=2)
    assert w.write(b"a") == 1
    assert c.calls == [("stream", [Record("key", b"a")])]


def test_write_large():
    # kinesis_test.go:36-59 — chunk size = 5 - len("key") = 2
    c = FakeClient()
    w = Writer(c, "stream", "key", record_size_limit=5, put_records_limit=2)
    assert w.write(b"abcd") == 4
    assert c.calls == [("stream", [Record("key", b"ab"), Record("key", b"cd")])]


def test_write_multiple():
    # kinesis_test.go:61-91 — 3 chunks at batch limit 2 → two calls
    c = FakeClient()
    w = Writer(c, "stream", "key", record_size_limit=5, put_records_limit=2)
    assert w.write(b"abcde") == 5
    assert c.calls == [
        ("stream", [Record("key", b"ab"), Record("key", b"cd")]),
        ("stream", [Record("key", b"e")]),
    ]


def test_empty_write_is_noop():
    # Deliberate divergence from the reference (SURVEY.md §4 quirk 6):
    # empty payload → no records, no calls.
    c = FakeClient()
    w = Writer(c, "stream", "key")
    assert w.write(b"") == 0
    assert c.calls == []


def test_request_size_limit_enforced():
    # The reference never enforces its 5 MiB request cap (kinesis.go:31);
    # we do: 3 records of 4 bytes (key "k" + 3 data) under a 9-byte cap
    # → batches of 2.
    c = FakeClient()
    w = Writer(
        c,
        "stream",
        "k",
        record_size_limit=4,
        put_records_limit=500,
        put_records_size_limit=9,
    )
    w.write(b"aaabbbccc")
    assert [len(recs) for _, recs in c.calls] == [2, 1]


def test_error_code_retry_then_success():
    # At-least-once upgrade: entries with ErrorCode are retried.
    c = FakeClient(fail_codes=[["Throttled", None], [None]])
    w = Writer(c, "stream", "key", record_size_limit=5, put_records_limit=2)
    w.write(b"abcd")
    # second call retries only the failed record
    assert [len(recs) for _, recs in c.calls] == [2, 1]
    assert c.calls[1][1] == [Record("key", b"ab")]


def test_error_code_exhausts_retries():
    import pytest

    c = FakeClient(fail_codes=[["X"], ["X"], ["X"], ["X"]])
    w = Writer(c, "s", "key", record_size_limit=1000, max_retries=3)
    with pytest.raises(PutRecordsError):
        w.write(b"a")
    # one first attempt + three retries; the fourth failure is not re-put
    assert w.put_calls == 4
    assert w.records_retried == 3


class ShortResponseClient:
    """Returns one fewer response than records sent, then behaves."""

    def __init__(self):
        self.calls = 0

    def put_records(self, stream_name, records):
        self.calls += 1
        if self.calls == 1:
            return [{} for _ in records[:-1]]  # silent tail truncation
        return [{} for _ in records]


def test_writer_retries_zip_truncated_tail():
    """Records with NO response entry have no delivery evidence — they
    must be retried, never silently counted as delivered."""
    from kinesis_spark.ingest.writer import Writer

    client = ShortResponseClient()
    w = Writer(client, "s", "k", record_size_limit=10, retry_backoff_s=0.0)
    assert w.write(b"abcdefgh" * 4) == 32
    assert client.calls == 2  # first call short -> tail re-put


class AlwaysFailSink:
    def write(self, data):
        raise RuntimeError("sink down")


def test_buffered_flush_failure_keeps_bytes_and_surfaces():
    """A failed flush keeps the buffer intact; the ticker latches the
    error instead of dying and the next call raises it."""
    import pytest as _pytest

    from kinesis_spark.ingest.buffered import BufferedWriter

    b = BufferedWriter(AlwaysFailSink(), size=8, flush_period_s=0)
    b._buf.extend(b"abc")
    with _pytest.raises(RuntimeError, match="sink down"):
        b.flush()
    assert bytes(b._buf) == b"abc"  # nothing lost


def test_drop_close_surfaces_latched_error():
    """Failures during the final drain must raise from close(), not let
    the process exit 0 with data undelivered."""
    import time

    import pytest as _pytest

    from kinesis_spark.ingest.drop import DropWriter

    d = DropWriter(AlwaysFailSink(), queue_depth=4, on_drop=lambda p: None)
    d.write(b"payload")
    time.sleep(0.2)  # let the consumer hit the sink error
    with _pytest.raises(RuntimeError, match="sink down"):
        d.close()
    with _pytest.raises(ValueError, match="closed"):
        d.write(b"after close")


def test_fast_writer_throttles_by_default():
    """limits.py promises default-on enforcement of the shard envelope;
    the canonical composition must actually construct the throttle."""
    from kinesis_spark.ingest.pipeline import new_fast_writer

    class NullClient:
        def put_records(self, stream_name, records):
            return [{} for _ in records]

    head, drop = new_fast_writer(NullClient(), "s", "k", flush_period_s=0)
    assert drop._sink.throttle is not None
    head2, drop2 = new_fast_writer(
        NullClient(), "s", "k", flush_period_s=0, shard_rate_limits=None
    )
    assert drop2._sink.throttle is None
    for d in (drop, drop2):
        d.close()
