"""Spool-backed Kinesis stream emulation: a durable PutRecords sink client
plus the consumer-side reassembly of the records it spooled.

This closes the round trip the reference leaves open: the reference only
writes (kinesis/kinesis.go:199-242 ``Writer.Write`` → PutRecords); its
consumers then read each shard in sequence order and ``io.Copy`` the record
Data back out. Here the "stream" is a spool directory — the sink client
writes one JSON-lines file per PutRecords call (atomic rename, so a reader
never sees a partial file). The one reader of that format is
``ingest.consumer.SpoolConsumerClient`` (GetShardIterator/GetRecords over
the directory); Spark reads it through the ``kinesis_consumer`` source
(``spark.read`` / ``spark.readStream.format("kinesis_consumer")``,
streaming/kinesis_source.py), and :func:`reassemble_records` is the
consumer's ``io.Copy``: concatenate Data in sequence order per partition
key.

Sequence numbers are ``"<t_ns:020d>-<call:06d>-<idx:06d>"`` — strictly
increasing per writer task, mirroring Kinesis per-shard sequence numbers
under a fixed partition key (one writer → one shard,
kinesis/kinesis.go:186-195).

Scale note: reassembly groups by partition key — at scale that is "per
shard", the exact unit a Kinesis consumer processes; a shard's backlog is
bounded by its throughput × retention, so the per-key concat is bounded
too.
"""

from __future__ import annotations

import base64
import json
import os
import time
import uuid
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


class SpoolStreamClient:
    """PutRecords client that spools full records durably (JSON lines,
    base64 payloads) — the injectable-seam twin of the boto3 client
    (ingest/writer.py:45) whose output is replayable as a stream.

    One file per put call, written under a dotted temp name then renamed:
    the spool reader skips hidden files, so a half-written call is never
    observed.
    """

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir
        self._calls = 0

    def put_records(self, stream_name, records):
        os.makedirs(self.spool_dir, exist_ok=True)
        self._calls += 1
        t_ns = time.time_ns()
        out = []
        lines = []
        for idx, rec in enumerate(records):
            seq = f"{t_ns:020d}-{self._calls:06d}-{idx:06d}"
            lines.append(
                json.dumps(
                    {
                        "stream": stream_name,
                        "pk": rec.partition_key,
                        "seq": seq,
                        "data": base64.b64encode(bytes(rec.data)).decode("ascii"),
                    }
                )
            )
            out.append(
                {"SequenceNumber": seq, "ShardId": "shardId-000000000000"}
            )
        name = f"{t_ns:020d}-{uuid.uuid4().hex}.jsonl"
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(self.spool_dir, name))
        return out


def reassemble_records(records: DataFrame) -> DataFrame:
    """Consumer-side ``io.Copy``: per partition key (= per shard under the
    reference's fixed-key writer), concatenate record Data in sequence
    order back into the original byte stream.

    Returns ``(pk, stream_bytes binary, n_records, n_bytes)``. The
    aggregation is a single shuffle on the (small) partition key; the sort
    happens inside each group via ``array_sort`` on (seq, data) structs,
    not a global sort.
    """
    from pyspark.sql import functions as F

    return (
        records.groupBy("pk")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("seq", "data"))),
                F.lit(b""),
                lambda acc, x: F.concat(acc, x["data"]),
            ).alias("stream_bytes"),
            F.count(F.lit(1)).alias("n_records"),
            F.sum(F.length("data")).alias("n_bytes"),
        )
    )
