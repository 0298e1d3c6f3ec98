"""CLI parity with the reference (main.go): pipe bytes from stdin into a
Kinesis stream — and read them back.

    cat file | python -m kinesis_spark STREAM -p PARTITION_KEY
    python -m kinesis_spark STREAM -p PARTITION_KEY --consume > file

Reference behavior mirrored (main.go:14-51): positional stream name,
``-p/--partitionKey`` flag, pump-until-EOF, SIGINT/SIGTERM → final
flush, exit 1 on error. Differences (deliberate, SURVEY.md §4 quirks):
failed puts raise instead of claiming success, drops are surfaced on
stderr with counts, and the dead 5 MiB request cap is enforced.

``--consume`` is the read side the reference leaves to its users: walk
every shard with the GetShardIterator/GetRecords consumer
(ingest/consumer.py), keep this partition key's records, and write
their Data to stdout in sequence order — the io.Copy inverse.

The AWS client is injectable (``--fake-sink PATH`` spools full records
as JSON lines instead — the test seam, replayable by the consumer and
the Spark sources; boto3 is not bundled in this environment).
"""

from __future__ import annotations

import argparse
import signal
import sys

from kinesis_spark.streaming.spool import SpoolStreamClient as SpoolSink


def _boto3_client_factory(region: str | None):
    # one adapter, one wire mapping: reuse the library's gated factory
    # (ingest/aws.py) instead of a second hand-rolled copy here
    from kinesis_spark.ingest.aws import make_boto3_client

    try:
        return make_boto3_client(region)
    except NotImplementedError as exc:
        raise SystemExit(
            "boto3 is not installed; use --fake-sink DIR to spool locally"
        ) from exc


def _consume(args, stdout) -> int:
    """Read side: every shard, TRIM_HORIZON to tip, this partition key's
    Data concatenated in sequence order (per-key order is total because
    one key maps to one shard LINEAGE — after a reshard the key's records
    span parent then child, and sequence numbers are monotone across the
    cutover; closed shards end with a null NextShardIterator and the
    walk moves on)."""
    from kinesis_spark.ingest.consumer import RetryingConsumer

    if args.fake_sink:
        from kinesis_spark.ingest.consumer import SpoolConsumerClient

        consumer = RetryingConsumer(SpoolConsumerClient(args.fake_sink))
    else:
        try:
            from kinesis_spark.ingest.consumer import make_boto3_consumer

            # retry-wrapped: the tight drain loop below WILL hit the
            # 5 reads/s/shard Kinesis cap on a real backlog; throttles
            # must back off, not crash the CLI mid-stream
            consumer = RetryingConsumer(make_boto3_consumer(args.region))
        except NotImplementedError as exc:
            raise SystemExit(str(exc)) from exc
    recs: list[tuple[str, bytes]] = []
    for shard in consumer.list_shards(args.stream):
        token = consumer.get_shard_iterator(args.stream, shard)
        while token:
            resp = consumer.get_records(token)
            for r in resp["Records"]:
                if r["PartitionKey"] == args.partition_key:
                    recs.append((r["SequenceNumber"], r["Data"]))
            if not resp["Records"] and resp.get("MillisBehindLatest", 0) == 0:
                break
            token = resp.get("NextShardIterator")
    # real Kinesis sequence numbers are variable-length decimal strings,
    # where lexicographic order lies ('1000…' < '999…'); the spool's are
    # fixed-width with separators. Compare numerically when numeric.
    def _seq_key(sd):
        seq = sd[0]
        return (0, int(seq), "") if seq.isdigit() else (1, 0, seq)

    for _, data in sorted(recs, key=_seq_key):
        stdout.write(data)
    return 0


def _intake_cmd(argv: list[str]) -> int:
    """``python -m kinesis_spark intake``: one availableNow drain of the
    production intake pipeline (kinesis_spark/pipeline.py — leased
    consumer → gate/dedup → durable admission → transactional corpus +
    rollup), printing the audit rows as JSON lines."""
    parser = argparse.ArgumentParser(
        prog="kinesis_spark intake",
        description="drain a stream through the production intake pipeline",
    )
    parser.add_argument("--spool", required=True, metavar="DIR",
                        help="stream transport dir (the fake-SDK spool)")
    parser.add_argument("--stream", required=True)
    parser.add_argument("--work", required=True, metavar="DIR",
                        help="root for index/corpus/rollup/lease/ckpt state")
    parser.add_argument("--consumer-id", default="consumer-1")
    parser.add_argument("--lease-ttl-s", type=float, default=30.0)
    parser.add_argument("--shards-dir", default=None,
                        help="also write training shards here after the drain")
    parser.add_argument("--n-shards", type=int, default=8)
    parser.add_argument("--await-s", type=float, default=240.0)
    args = parser.parse_args(argv)

    from kinesis_spark.pipeline import IntakeConfig, run_intake
    from kinesis_spark.session import get_spark

    spark = get_spark("kinesis-intake")
    audit = run_intake(
        spark,
        IntakeConfig(
            spool_dir=args.spool,
            stream=args.stream,
            work_dir=args.work,
            consumer_id=args.consumer_id,
            lease_ttl_s=args.lease_ttl_s,
            shards_dir=args.shards_dir,
            n_shards=args.n_shards,
            await_s=args.await_s,
        ),
    )
    # bounded: one row per (lang, source) partition tuple
    for line in audit.toJSON().collect():
        print(line)
    return 0


def main(argv: list[str] | None = None, client=None, stdin=None, stdout=None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    # the verb form always carries --spool; a STREAM literally named
    # "intake" (positional + -p, the reference CLI shape) still routes
    # to the producer path
    if argv and argv[0] == "intake" and any(
        a == "--spool" or a.startswith("--spool=") for a in argv
    ):
        return _intake_cmd(argv[1:])
    parser = argparse.ArgumentParser(
        prog="kinesis_spark",
        description="stream stdin to a Kinesis stream (or --consume it back)",
    )
    parser.add_argument("stream", help="Kinesis stream name")
    parser.add_argument("-p", "--partitionKey", required=True, dest="partition_key")
    parser.add_argument("--region", default=None)
    parser.add_argument("--fake-sink", default=None, metavar="DIR",
                        help="spool PutRecords calls to DIR instead of AWS "
                             "(also the --consume read location)")
    parser.add_argument("--consume", action="store_true",
                        help="read the stream and write this partition key's "
                             "bytes to stdout in sequence order")
    parser.add_argument("--buffer-bytes", type=int, default=4 * 1024 * 1024)
    parser.add_argument("--flush-seconds", type=float, default=1.0)
    parser.add_argument("--queue-depth", type=int, default=4)
    args = parser.parse_args(argv)

    if args.consume:
        return _consume(args, stdout if stdout is not None else sys.stdout.buffer)

    from kinesis_spark.ingest.pipeline import new_fast_writer

    if client is None:
        client = (
            SpoolSink(args.fake_sink)
            if args.fake_sink
            else _boto3_client_factory(args.region)
        )

    dropped = {"n": 0, "bytes": 0}

    def on_drop(payload: bytes) -> None:
        dropped["n"] += 1
        dropped["bytes"] += len(payload)
        print(f"dropping {len(payload)} bytes", file=sys.stderr)

    head, drop_stage = new_fast_writer(
        client,
        args.stream,
        args.partition_key,
        buffer_size=args.buffer_bytes,
        flush_period_s=args.flush_seconds,
        queue_depth=args.queue_depth,
        on_drop=on_drop,
    )

    stdin = stdin if stdin is not None else sys.stdin.buffer

    class _Stop(Exception):
        pass

    def _sig(_signo, _frame):  # SIGINT/SIGTERM → drain and exit (main.go:38-51)
        # must RAISE, not set a flag: per PEP 475 a blocked stdin read is
        # transparently retried after a non-raising handler, so a flag
        # would never be checked while the pipe is idle
        raise _Stop()

    # restored on the way out: an in-process caller keeps its handlers
    previous = {s: signal.signal(s, _sig) for s in (signal.SIGINT, signal.SIGTERM)}
    try:
        try:
            while True:
                buf = stdin.read(32 * 1024)  # io.Copy's default granularity
                if not buf:
                    break
                head.write(buf)
        except _Stop:
            pass  # signal: fall through to the final drain
        head.close()  # final flush + drains the drop queue
        drop_stage.close()  # raises if the drain left an error latched
    except Exception as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    finally:
        for signo, handler in previous.items():
            signal.signal(signo, handler)
    if dropped["n"]:
        print(
            f"warning: dropped {dropped['n']} buffers ({dropped['bytes']} bytes)",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
