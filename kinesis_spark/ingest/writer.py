"""Core writer: chunk → tag partition key → batch → PutRecords.

Mirrors the reference's ``Writer`` (kinesis/kinesis.go:176-242) with the
quirk fixes SURVEY.md §4 calls out:

1. Batch flush on EITHER 500 records OR 5 MiB request size (the reference
   only enforces the record count; the size limit is dead config,
   kinesis/kinesis.go:31).
2. Per-record failures (``ErrorCode`` set in the response) are retried up
   to ``max_retries`` times → at-least-once delivery. The reference
   discards ``PutRecordsOutput`` entirely (kinesis/kinesis.go:221,236).
3. A failed request raises; the reference returns ``(len(p), nil)`` —
   claiming success for undelivered bytes.

The client seam matches the reference's ``kinesisClient`` duck type
(kinesis/kinesis.go:171-173): anything with
``put_records(stream_name, records) -> list[dict]`` where each response
entry may carry ``ErrorCode``.

This is the engine's only PutRecords loop: the CLI chain calls
``Writer.write`` per flushed buffer, and the streaming sink
(streaming/ingest.py) drives one ``Writer.put`` per partition task.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, Protocol

from kinesis_spark.ingest.chunker import chunk_bytes
from kinesis_spark.ingest.limits import (
    PUT_RECORDS_LIMIT,
    PUT_RECORDS_SIZE_LIMIT,
    RECORD_SIZE_LIMIT,
)


@dataclass(frozen=True)
class Record:
    partition_key: str
    data: bytes

    @property
    def size(self) -> int:
        # Kinesis counts key + payload toward the record/request size.
        return len(self.partition_key.encode()) + len(self.data)


class PutRecordsClient(Protocol):
    def put_records(self, stream_name: str, records: list[Record]) -> list[dict]: ...


class PutRecordsError(RuntimeError):
    """A request failed, or records still carried ErrorCode after retries."""


class Writer:
    """Synchronous chunk+batch+put writer (reference Writer parity)."""

    def __init__(
        self,
        client: PutRecordsClient,
        stream_name: str,
        partition_key: str,
        *,
        record_size_limit: int = RECORD_SIZE_LIMIT,
        put_records_limit: int = PUT_RECORDS_LIMIT,
        put_records_size_limit: int = PUT_RECORDS_SIZE_LIMIT,
        max_retries: int = 3,
        throttle=None,  # RateLimiter: per-shard rate envelope (limits.py)
        retry_backoff_s: float = 0.2,  # exponential, used when un-throttled
        sleep=None,  # injectable for tests; defaults to time.sleep
    ) -> None:
        key_len = len(partition_key.encode())
        if record_size_limit <= key_len:
            raise ValueError(
                f"record_size_limit {record_size_limit} must exceed "
                f"partition key length {key_len}"
            )
        self.client = client
        self.stream_name = stream_name
        self.partition_key = partition_key
        self.record_size_limit = record_size_limit
        self.put_records_limit = put_records_limit
        self.put_records_size_limit = put_records_size_limit
        self.max_retries = max_retries
        self.throttle = throttle
        self.retry_backoff_s = retry_backoff_s
        if sleep is None:
            import time as _time

            sleep = _time.sleep
        self._sleep = sleep
        # chunkSize = recordSizeLimit - len(partitionKey)
        # (kinesis/kinesis.go:201-205)
        self.chunk_size = record_size_limit - key_len
        # delivery counters, summed by the streaming sink's accumulators;
        # bytes are payload bytes (the partition key is not counted)
        self.put_calls = 0
        self.records_put = 0
        self.bytes_put = 0
        self.records_retried = 0

    def write(self, payload: bytes) -> int:
        """Chunk, batch, and put ``payload``; returns bytes written.

        Unlike the reference, raises on failure instead of claiming the
        bytes were consumed (kinesis/kinesis.go:221-223 quirk).
        """
        if not payload:
            return 0  # explicit choice: no empty records (SURVEY.md §4.6)
        self.put(
            Record(self.partition_key, c) for c in chunk_bytes(payload, self.chunk_size)
        )
        return len(payload)

    def put(self, records: Iterable[Record]) -> None:
        """Greedy packing under BOTH the record-count and request-size
        caps, one PutRecords call (with retries) per full batch. Lazy:
        ``records`` may be any iterable (the streaming sink feeds a
        partition's row iterator) and is never materialized whole."""
        batch: list[Record] = []
        batch_size = 0
        for r in records:
            if batch and (
                len(batch) >= self.put_records_limit
                or batch_size + r.size > self.put_records_size_limit
            ):
                self._put_with_retry(batch)
                batch, batch_size = [], 0
            batch.append(r)
            batch_size += r.size
        if batch:
            self._put_with_retry(batch)

    def _put_with_retry(self, batch: list[Record]) -> None:
        pending = batch
        for attempt in range(self.max_retries + 1):
            if self.throttle is not None:
                # retried records re-enter the shard: every attempt pays
                # its rate budget (a throttle-caused failure retried
                # immediately would fail the same throttled second again)
                self.throttle.acquire(len(pending), sum(r.size for r in pending))
            elif attempt > 0:
                self._sleep(self.retry_backoff_s * (2 ** (attempt - 1)))
            responses = list(
                self.client.put_records(self.stream_name, pending) or []
            )
            self.put_calls += 1
            # positional results are the contract; records with NO
            # response entry have no delivery evidence — retry, never
            # silently count the zip-truncated tail as delivered
            if len(responses) < len(pending):
                responses += [{"ErrorCode": "MissingResponse"}] * (
                    len(pending) - len(responses)
                )
            failed = [
                rec
                for rec, resp in zip(pending, responses)
                if isinstance(resp, dict) and resp.get("ErrorCode")
            ]
            self.records_put += len(pending) - len(failed)
            self.bytes_put += sum(len(r.data) for r in pending) - sum(
                len(r.data) for r in failed
            )
            if not failed:
                return
            if attempt < self.max_retries:
                # the last attempt's failures are never re-put
                self.records_retried += len(failed)
            pending = failed
        raise PutRecordsError(
            f"{len(pending)} records still failing after "
            f"{self.max_retries} retries on stream {self.stream_name!r}"
        )
