"""Timing shims the traced runs put around calls into the program's public
classes. Nothing here changes what the program does; each shim forwards
the call and records counts and times."""

from __future__ import annotations

import collections
import json
import os
import threading
import time


class DeliveryLog:
    """PutRecords client wrapper: after each put returns, records when it
    completed and how many payload bytes the stream has delivered by then.
    The writer chain calls it from one thread, so the log is in stream
    order. Used untraced too: delivery latency is an end-to-end metric."""

    def __init__(self, inner, timed: bool = False) -> None:
        self.inner = inner
        self.timed = timed
        self.done_at: list[float] = []
        self.cum_bytes: list[int] = []
        self.delivered = 0
        self.errors = 0
        self.busy_s = 0.0
        self.records = 0
        self.retries = 0
        self._last: list = []  # the previous put's records, kept alive

    def put_records(self, stream_name, records):
        t = time.perf_counter() if self.timed else 0.0
        if self.timed and records and any(records[0] is r for r in self._last):
            self.retries += 1  # the writer re-sends failed records
        try:
            out = self.inner.put_records(stream_name, records)
        except Exception:
            self.errors += 1
            raise
        now = time.perf_counter()
        if self.timed:
            self.busy_s += now - t
            self.records += len(records)
            self._last = records
        self.delivered += sum(len(r.data) for r in records)
        self.done_at.append(now)
        self.cum_bytes.append(self.delivered)
        return out


class TimedSink:
    """The drop stage's sink when traced: times each downstream ``write``
    and how long its payload waited in the queue since ``enqueued_at``
    stamped it."""

    def __init__(self, inner, enqueued_at: collections.deque) -> None:
        self.inner = inner
        self.calls = 0
        self.busy_s = 0.0
        self.enqueued_at = enqueued_at
        self.waits: list[float] = []

    def write(self, payload) -> int:
        t = time.perf_counter()
        self.waits.append(t - self.enqueued_at.popleft())
        n = self.inner.write(payload)
        self.busy_s += time.perf_counter() - t
        self.calls += 1
        return n


class EnqueueStamp:
    """The buffered stage's sink when traced: stamps each flush entering
    the drop stage, and removes the stamp again when the drop stage sheds
    it. The buffered stage serialises its flushes under its own lock."""

    def __init__(self) -> None:
        self.drop = None  # set once the drop stage exists
        self.stamps: collections.deque = collections.deque()
        self.flushes = 0
        self.enqueued = 0

    def write(self, payload) -> int:
        self.flushes += 1
        before = self.drop.dropped_writes
        self.stamps.append(time.perf_counter())
        n = self.drop.write(payload)
        if self.drop.dropped_writes != before:
            self.stamps.pop()
        else:
            self.enqueued += 1
        return n


class ConsumerProbe:
    """Counts and times every call into ``SpoolConsumerClient``, and how
    many spool records its scans parse against how many ``get_records``
    returns. ``sink_path`` makes each call append its sample to a file,
    for probes installed in Spark's Python worker processes."""

    METHODS = ("get_records", "latest_sequence_numbers", "list_shards",
               "get_shard_iterator", "describe_shards", "records_behind")

    def __init__(self, sink_path: str | None = None) -> None:
        self.sink_path = sink_path
        self.get_records_calls = 0
        self.busy_s = 0.0
        self.parsed = 0
        self.returned = 0
        self._lock = threading.Lock()
        self._saved: dict = {}

    def install(self) -> "ConsumerProbe":
        from kinesis_spark.ingest.consumer import SpoolConsumerClient as cls

        self._saved = {m: cls.__dict__[m] for m in self.METHODS + ("_iter_spool_records",)}
        probe = self
        scan = self._saved["_iter_spool_records"]

        def counted_scan(client, stream):
            n = 0
            try:
                for r in scan(client, stream):
                    n += 1
                    yield r
            finally:
                probe._add(parsed=n)

        setattr(cls, "_iter_spool_records", counted_scan)
        for name in self.METHODS:
            setattr(cls, name, self._timed(name, self._saved[name]))
        return self

    def uninstall(self) -> None:
        from kinesis_spark.ingest.consumer import SpoolConsumerClient as cls

        for name, fn in self._saved.items():
            setattr(cls, name, fn)
        self._saved = {}

    def _timed(self, name, fn):
        probe = self

        def call(client, *args, **kwargs):
            t = time.perf_counter()
            out = fn(client, *args, **kwargs)
            dt = time.perf_counter() - t
            if name == "get_records":
                probe._add(calls=1, busy=dt, returned=len(out["Records"]))
            else:
                probe._add(busy=dt)
            return out

        return call

    def _add(self, calls=0, busy=0.0, parsed=0, returned=0) -> None:
        with self._lock:
            self.get_records_calls += calls
            self.busy_s += busy
            self.parsed += parsed
            self.returned += returned
        if self.sink_path is not None:
            with open(self.sink_path, "a") as f:
                f.write(json.dumps([calls, busy, parsed, returned]) + "\n")

    def metrics(self) -> dict[str, float]:
        return {
            "consumer.get_records_calls": self.get_records_calls,
            "consumer.busy_s": self.busy_s,
            "consumer.scan_amplification": self.parsed / max(self.returned, 1),
        }

    @classmethod
    def read_samples(cls, directory: str) -> "ConsumerProbe":
        """Sum the samples worker-process probes appended under
        ``directory``."""
        total = cls()
        for name in os.listdir(directory) if os.path.isdir(directory) else ():
            with open(os.path.join(directory, name)) as f:
                for line in f:
                    total._add(*json.loads(line))
        return total
