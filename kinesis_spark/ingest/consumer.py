"""Kinesis read-side (consumer) adapter: ListShards / GetShardIterator /
GetRecords behind the same injectable client seam as the writer.

Reference parity: the reference is write-only — kinesis/kinesis.go only
ever calls ``PutRecords`` (:221); its consumers read each shard in
sequence order and ``io.Copy`` the record Data back out. This module is
that read side, shaped exactly like the AWS consumer API so the spool
fake (tests, local runs) and boto3 (production) are interchangeable:

- :class:`ShardIteratorClient` — the protocol (the consumer twin of
  ``PutRecordsClient``, ingest/writer.py:45).
- :class:`SpoolConsumerClient` — reads the directory written by
  ``SpoolStreamClient`` (streaming/spool.py), routing records to shards
  by MD5 of the partition key like Kinesis routes over the hash-key
  space. Stateless across calls; the spool's atomic-rename writes mean a
  half-written put call is never observed.
- :class:`Boto3ConsumerClient` — the real-AWS adapter, import-gated like
  the writer's (ingest/aws.py:37).
- :func:`iter_shard` — the one shard walk (iterator type, the
  ``NextShardIterator`` chain, the caught-up-at-tip stop and an optional
  end sequence). The CLI's ``--consume`` calls it directly;
  :func:`read_stream_batch` and the streaming source's executor-side
  ``read`` call it through :func:`shard_rows`.
- :func:`read_stream_batch` — the distributed batch read: ONE Spark task
  per shard (the Kinesis unit of parallelism), each running
  :func:`iter_shard` executor-side; the driver only sees the shard list.

``SpoolConsumerClient._iter_spool_records`` is the only parser of the
spool format; the Spark-side spool reads go through the
``kinesis_consumer`` source (``kinesis_spark/streaming/kinesis_source.py``,
a Python Data Source whose offsets are per-shard sequence numbers).
"""

from __future__ import annotations

import base64
import json
import os
import time
from bisect import bisect_right
from typing import Callable, Protocol

from pyspark.sql import DataFrame, SparkSession

DEFAULT_N_SHARDS = 4
CONSUMER_SCHEMA = "shard_id string, pk string, seq string, data binary"


class ShardIteratorClient(Protocol):
    """The AWS Kinesis consumer surface the engine depends on."""

    def list_shards(self, stream_name: str) -> list[str]: ...

    def get_shard_iterator(
        self,
        stream_name: str,
        shard_id: str,
        iterator_type: str = "TRIM_HORIZON",
        starting_sequence_number: str | None = None,
    ) -> str: ...

    def get_records(self, shard_iterator: str, limit: int = 10000) -> dict: ...


def shard_for_key(pk: str, n_shards: int = DEFAULT_N_SHARDS) -> str:
    """Kinesis routes a record by MD5(partition key) over the stream's
    hash-key space; with ``n_shards`` equal ranges that reduces to a
    modulus of the 128-bit digest. ONE hash definition — shared with the
    topology router (resharding.key_hash), so writer-side routing and
    the reshard generations can never drift."""
    from kinesis_spark.ingest.resharding import key_hash

    return f"shardId-{key_hash(pk) % n_shards:012d}"


def _encode_iter(stream: str, shard_id: str, after: str) -> str:
    tok = json.dumps({"s": stream, "sh": shard_id, "a": after})
    return base64.b64encode(tok.encode("ascii")).decode("ascii")


def _decode_iter(token: str) -> tuple[str, str, str]:
    d = json.loads(base64.b64decode(token).decode("ascii"))
    return d["s"], d["sh"], d["a"]


class SpoolConsumerClient:
    """GetRecords over a spool directory (the stream emulation written by
    ``SpoolStreamClient``). Sequence numbers are the spool's fixed-width
    strings, so lexicographic order IS chronological order; the iterator
    token encodes (stream, shard, last-consumed seq) and the ``after``
    cursor advances per call exactly like a real shard iterator.

    Resharding-aware: routing follows the spool's shard topology
    (ingest/resharding.py — generations cut over by sequence number, the
    spool analog of Kinesis routing by the topology active at write
    time). Closed shards end with a null ``NextShardIterator``
    (SHARD_END) once drained, and :meth:`describe_shards` exposes the
    ListShards parent linkage consumers need to order parent before
    child. A spool without a topology file keeps the legacy fixed
    ``md5 % n_shards`` routing — nothing changes for existing spools.

    Each call re-lists the directory — O(spool files); fine for the test
    scale this fake exists for, and the only client a 100 TB deployment
    would swap out (for :class:`Boto3ConsumerClient`) anyway.
    """

    def __init__(
        self,
        spool_dir: str,
        n_shards: int = DEFAULT_N_SHARDS,
        seal_grace_ns: int = 250_000_000,
    ):
        self.spool_dir = spool_dir
        self.n_shards = n_shards
        # SHARD_END seal grace: a writer captures its time-prefixed seq
        # BEFORE renaming the spool file, so a put in flight across the
        # reshard cutover can land (with seq < cutover, i.e. routed to
        # the closed parent) shortly AFTER a reader drained the parent.
        # Real Kinesis seals a closed shard before signalling SHARD_END;
        # the emulation instead refuses to hand back the null iterator
        # until the cutover is comfortably in the past. Tests that need
        # an immediate SHARD_END pass seal_grace_ns=0.
        self.seal_grace_ns = seal_grace_ns

    # -- internal ---------------------------------------------------------
    def _topology(self):
        from kinesis_spark.ingest.resharding import load_topology

        return load_topology(self.spool_dir, self.n_shards)

    def _iter_spool_records(self, stream: str):
        """ONE definition of the spool parsing rules (hidden-file skip,
        .jsonl filter, blank lines, stream filter) — every reader path
        goes through here so tips and record reads can never drift."""
        if not os.path.isdir(self.spool_dir):
            return
        for name in sorted(os.listdir(self.spool_dir)):
            if name.startswith(".") or not name.endswith(".jsonl"):
                continue
            with open(os.path.join(self.spool_dir, name)) as f:
                for line in f:
                    if not line.strip():
                        continue
                    r = json.loads(line)
                    if r["stream"] == stream:
                        yield r

    def _shard_records(
        self, stream: str, shard_id: str, topo=None
    ) -> list[dict]:
        topo = topo or self._topology()
        recs = [
            r
            for r in self._iter_spool_records(stream)
            if topo.shard_for(r["pk"], r["seq"]) == shard_id
        ]
        recs.sort(key=lambda r: r["seq"])
        return recs

    # -- AWS-shaped surface ----------------------------------------------
    def list_shards(self, stream_name: str) -> list[str]:
        # like ListShards: every shard within retention, closed ones
        # included; generation order, so parents precede children
        return [s.shard_id for s in self._topology().shard_infos()]

    def describe_shards(self, stream_name: str) -> list[dict]:
        """ListShards-shaped lineage: ``ShardId`` plus up to two parents
        (``ParentShardId`` for a split, plus ``AdjacentParentShardId``
        for a merge), in parent-before-child order."""
        out = []
        for s in self._topology().shard_infos():
            d = {"ShardId": s.shard_id}
            if s.parent_ids:
                d["ParentShardId"] = s.parent_ids[0]
            if len(s.parent_ids) > 1:
                d["AdjacentParentShardId"] = s.parent_ids[1]
            out.append(d)
        return out

    def get_shard_iterator(
        self,
        stream_name: str,
        shard_id: str,
        iterator_type: str = "TRIM_HORIZON",
        starting_sequence_number: str | None = None,
    ) -> str:
        if iterator_type == "TRIM_HORIZON":
            after = ""
        elif iterator_type == "AFTER_SEQUENCE_NUMBER":
            if starting_sequence_number is None:
                raise ValueError("AFTER_SEQUENCE_NUMBER requires a sequence number")
            after = starting_sequence_number
        elif iterator_type == "LATEST":
            recs = self._shard_records(stream_name, shard_id)
            after = recs[-1]["seq"] if recs else ""
        else:
            raise ValueError(f"unsupported iterator type: {iterator_type}")
        return _encode_iter(stream_name, shard_id, after)

    def get_records(self, shard_iterator: str, limit: int = 10000) -> dict:
        stream, shard_id, after = _decode_iter(shard_iterator)
        topo = self._topology()
        recs = self._shard_records(stream, shard_id, topo)
        seqs = [r["seq"] for r in recs]
        i = bisect_right(seqs, after) if after else 0
        batch = recs[i : i + limit]
        new_after = batch[-1]["seq"] if batch else after
        at_tip = i + len(batch) >= len(recs)
        # SHARD_END: a CLOSED shard drained to its last record hands back
        # a null iterator — the signal consumers use to move to children.
        # Held open through the seal grace after the cutover (see
        # __init__) so an in-flight pre-cutover write cannot land behind
        # a reader that already moved past SHARD_END.
        close_seq = topo.close_seq(shard_id)
        sealed = close_seq is not None and (
            self.seal_grace_ns == 0
            or not close_seq
            or time.time_ns() - int(close_seq.split("-")[0]) >= self.seal_grace_ns
        )
        next_iter = (
            None
            if sealed and at_tip
            else _encode_iter(stream, shard_id, new_after)
        )
        return {
            "Records": [
                {
                    "SequenceNumber": r["seq"],
                    "PartitionKey": r["pk"],
                    "Data": base64.b64decode(r["data"]),
                }
                for r in batch
            ],
            "NextShardIterator": next_iter,
            "MillisBehindLatest": 0 if at_tip else 1,
        }

    # -- connector helper (not an AWS API) -------------------------------
    def records_behind(
        self, stream_name: str, committed: dict[str, str]
    ) -> dict[str, int]:
        """Per-shard consumer lag in RECORDS: how many records sit after
        each shard's ``committed`` sequence number (``""`` = nothing
        consumed). One pass over the spool for all shards. A real
        Kinesis backend cannot count records server-side — its
        connector reports the GetRecords ``MillisBehindLatest`` probe
        instead; this spool-side record count is the deterministic
        analog the tests can assert growth on."""
        topo = self._topology()
        lag: dict[str, int] = {s.shard_id: 0 for s in topo.shard_infos()}
        for r in self._iter_spool_records(stream_name):
            sh = topo.shard_for(r["pk"], r["seq"])
            if r["seq"] > committed.get(sh, ""):
                lag[sh] = lag.get(sh, 0) + 1
        return lag

    def latest_sequence_numbers(self, stream_name: str) -> dict[str, str]:
        """Current tip (last sequence number, ``""`` when empty) per
        shard — what a real connector derives from a LATEST iterator /
        MillisBehindLatest probing; the streaming source's latestOffset.
        Closed shards report their FINAL sequence number (their tip never
        moves again)."""
        topo = self._topology()
        tips: dict[str, str] = {s.shard_id: "" for s in topo.shard_infos()}
        # one pass over the spool for ALL shards (not one per shard)
        for r in self._iter_spool_records(stream_name):
            sh = topo.shard_for(r["pk"], r["seq"])
            if r["seq"] > tips.get(sh, ""):
                tips[sh] = r["seq"]
        return tips


class Boto3ConsumerClient:
    """Adapter from :class:`ShardIteratorClient` to a boto3 ``kinesis``
    client — the production twin of the writer-side adapter
    (ingest/aws.py:18)."""

    def __init__(self, boto3_client) -> None:
        self._client = boto3_client

    @staticmethod
    def _call(fn, **kw):
        """Normalize the SDK's throttle types (matched by name so this
        module never imports boto3) to the retryable contract error —
        for EVERY consumer API, not just GetRecords: ListShards raises
        LimitExceededException and GetShardIterator
        ProvisionedThroughputExceededException under load, and an
        un-normalized throttle would crash straight through
        RetryingConsumer instead of backing off."""
        try:
            return fn(**kw)
        except Exception as exc:
            name = type(exc).__name__
            if "ProvisionedThroughputExceeded" in name or "LimitExceeded" in name:
                raise ThrottledError(str(exc)) from exc
            raise

    def list_shards(self, stream_name: str) -> list[str]:
        return [s["ShardId"] for s in self.describe_shards(stream_name)]

    def describe_shards(self, stream_name: str) -> list[dict]:
        """Full ListShards pagination, keeping the parent-linkage fields
        (``ParentShardId`` / ``AdjacentParentShardId``) resharding-aware
        consumers order on."""
        shards, token = [], None
        while True:
            kw = {"NextToken": token} if token else {"StreamName": stream_name}
            resp = self._call(self._client.list_shards, **kw)
            for s in resp.get("Shards", []):
                d = {"ShardId": s["ShardId"]}
                if s.get("ParentShardId"):
                    d["ParentShardId"] = s["ParentShardId"]
                if s.get("AdjacentParentShardId"):
                    d["AdjacentParentShardId"] = s["AdjacentParentShardId"]
                shards.append(d)
            token = resp.get("NextToken")
            if not token:
                return shards

    def get_shard_iterator(
        self,
        stream_name: str,
        shard_id: str,
        iterator_type: str = "TRIM_HORIZON",
        starting_sequence_number: str | None = None,
    ) -> str:
        kw = dict(
            StreamName=stream_name,
            ShardId=shard_id,
            ShardIteratorType=iterator_type,
        )
        if starting_sequence_number is not None:
            kw["StartingSequenceNumber"] = starting_sequence_number
        return self._call(self._client.get_shard_iterator, **kw)["ShardIterator"]

    def get_records(self, shard_iterator: str, limit: int = 10000) -> dict:
        return self._call(
            self._client.get_records, ShardIterator=shard_iterator, Limit=limit
        )


class ThrottledError(RuntimeError):
    """Raised by clients when GetRecords is throttled
    (ProvisionedThroughputExceededException) — the canonical per-shard
    Kinesis consumer failure; retryable by contract."""


class RetryingConsumer:
    """Decorator adding bounded exponential backoff to ``get_records`` —
    the consumer twin of the writer's ErrorCode retry loop
    (``Writer._put_with_retry``). Kinesis caps each shard at 5 reads/2 MB per
    second, so a fan-in of readers WILL see throttles; retrying at the
    client seam keeps :func:`iter_shard` oblivious.

    ``sleeper`` is injectable (tests pass a recorder; production leaves
    ``time.sleep``) and the backoff is deterministic:
    ``base_backoff_s * 2**attempt``.
    """

    def __init__(
        self,
        inner: ShardIteratorClient,
        max_retries: int = 5,
        base_backoff_s: float = 0.2,
        sleeper=None,
    ):
        import time as _time

        self._inner = inner
        self.max_retries = max_retries
        self.base_backoff_s = base_backoff_s
        self._sleep = sleeper if sleeper is not None else _time.sleep

    def _with_retry(self, call):
        for attempt in range(self.max_retries + 1):
            try:
                return call()
            except ThrottledError:
                if attempt == self.max_retries:
                    raise
                self._sleep(self.base_backoff_s * (2 ** attempt))
        raise AssertionError("unreachable")

    def list_shards(self, stream_name: str) -> list[str]:
        return self._with_retry(lambda: self._inner.list_shards(stream_name))

    def describe_shards(self, stream_name: str) -> list[dict]:
        # defensive like latest_sequence_numbers below: a minimal
        # ShardIteratorClient need not carry lineage metadata, and the
        # failure should be a clear contract error at the seam, not an
        # AttributeError inside a retry lambda
        describe = getattr(self._inner, "describe_shards", None)
        if describe is None:
            raise NotImplementedError(
                f"{type(self._inner).__name__} has no describe_shards "
                "(ListShards parent linkage); resharding-aware consumers "
                "need a client that exposes it — see SpoolConsumerClient "
                "or Boto3ConsumerClient"
            )
        return self._with_retry(lambda: describe(stream_name))

    def get_shard_iterator(self, *args, **kwargs) -> str:
        return self._with_retry(
            lambda: self._inner.get_shard_iterator(*args, **kwargs)
        )

    def get_records(self, shard_iterator: str, limit: int = 10000) -> dict:
        return self._with_retry(
            lambda: self._inner.get_records(shard_iterator, limit)
        )

    def latest_sequence_numbers(self, stream_name: str) -> dict[str, str]:
        # proxy the connector helper too, so a retry-wrapped client works
        # as the streaming source's backend (latestOffset calls this).
        # Only tip-probing clients implement it (SpoolConsumerClient);
        # the raw AWS API has no direct "tip sequence" call, so wrapping
        # Boto3ConsumerClient surfaces a clear contract error instead of
        # an AttributeError deep inside latestOffset
        probe = getattr(self._inner, "latest_sequence_numbers", None)
        if probe is None:
            raise NotImplementedError(
                f"{type(self._inner).__name__} has no tip probe "
                "(latest_sequence_numbers); the streaming source needs a "
                "client that can report per-shard tips — see "
                "SpoolConsumerClient"
            )
        return self._with_retry(lambda: probe(stream_name))


def make_boto3_consumer(region_name: str | None = None, **kwargs) -> Boto3ConsumerClient:
    """Real-AWS factory, gated like the writer's (ingest/aws.py:37)."""
    try:
        import boto3
    except ImportError as exc:
        raise NotImplementedError(
            "boto3 is not installed; install kinesis-spark[aws] to use the "
            "real Kinesis consumer, or inject any ShardIteratorClient"
        ) from exc
    return Boto3ConsumerClient(
        boto3.client("kinesis", region_name=region_name, **kwargs)
    )


def iter_shard(
    client: ShardIteratorClient,
    stream_name: str,
    shard_id: str,
    after: str = "",
    through: str | None = None,
    limit: int = 10000,
):
    """The one GetShardIterator → GetRecords walk: yield one shard's
    records in sequence order, starting after ``after`` (``""`` =
    TRIM_HORIZON) and stopping at the first of:

    - a null ``NextShardIterator`` (SHARD_END of a closed shard);
    - an empty page with ``MillisBehindLatest == 0`` (caught up to the
      tip of an open shard). An empty page while still BEHIND is routine
      on real Kinesis and keeps iterating;
    - a record past ``through`` (compared as strings, which is
      chronological for the spool's fixed-width sequence numbers): the
      streaming source's end-of-micro-batch bound, so a replay between
      two offsets reads exactly the same records.
    """
    if after:
        token = client.get_shard_iterator(
            stream_name, shard_id, "AFTER_SEQUENCE_NUMBER", after
        )
    else:
        token = client.get_shard_iterator(stream_name, shard_id, "TRIM_HORIZON")
    while token:
        resp = client.get_records(token, limit)
        for r in resp["Records"]:
            if through is not None and r["SequenceNumber"] > through:
                return
            yield r
        if not resp["Records"] and resp.get("MillisBehindLatest", 0) == 0:
            return
        token = resp.get("NextShardIterator")


def shard_rows(client: ShardIteratorClient, stream_name: str, shard_id: str, **walk):
    """:func:`iter_shard` as ``CONSUMER_SCHEMA`` rows (both Spark readers)."""
    for r in iter_shard(client, stream_name, shard_id, **walk):
        yield (shard_id, r["PartitionKey"], r["SequenceNumber"], bytearray(r["Data"]))


def read_stream_batch(
    spark: SparkSession,
    client_factory: Callable[[], ShardIteratorClient],
    stream_name: str,
    limit_per_call: int = 1000,
    leases=None,
) -> DataFrame:
    """Distributed batch read of a whole stream: one Spark task per shard
    (the Kinesis parallelism unit), each constructing its own client from
    the factory and running :func:`iter_shard` executor-side.
    The driver handles only the shard id list; record data never touches
    it. Returns ``(shard_id, pk, seq, data binary)`` — feed to
    ``reassemble_records`` (streaming/spool.py) for the io.Copy analog.

    ``leases`` (an ``ingest.leases.ShardLeases``) scopes the read to the
    shards this consumer can claim, so two concurrent consumers sharing
    a lease table split the stream disjointly instead of double-reading
    every shard (single-reader semantics per shard, KCL-style).
    """
    shards = client_factory().list_shards(stream_name)
    if leases is not None:
        shards = leases.partition_shards(stream_name, shards)
    if not shards:
        return spark.createDataFrame([], CONSUMER_SCHEMA)

    def read_shard(shard_ids):
        client = client_factory()
        for shard_id in shard_ids:
            yield from shard_rows(client, stream_name, shard_id, limit=limit_per_call)

    rdd = spark.sparkContext.parallelize(shards, len(shards)).mapPartitions(
        read_shard
    )
    return spark.createDataFrame(rdd, CONSUMER_SCHEMA)
