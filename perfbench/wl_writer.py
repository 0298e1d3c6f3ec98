"""``writer`` workload: the reference's write chain and its transport, in
pure Python with no Spark.

Three phases over the spool sink (``SpoolStreamClient``), with the per-shard
throttle off (the default 1 MiB/s envelope would cap the rate at a policy
constant that no code change should move):

1. *paced* — an open-loop seeded write stream at :data:`PACED_MIB_S`, well
   below the ceiling. Each write is timed from when it was due to the
   completion of the put that delivers its last byte. No write may drop.
2. *overload* — the same kind of stream at :data:`OVERLOAD_MIB_S`, above the
   ceiling; the delivered MiB/s is the ceiling. Load shedding drops writes
   here by design.
3. *read-back* — the paced spool read through the CLI's ``--consume`` path
   (``RetryingConsumer(SpoolConsumerClient)``); the bytes must equal the
   paced stream exactly.

Set-up is the writer CLI's cold start on empty stdin, five times, median;
the streams and the paced digest are generated outside it.

A closed-loop pump would not do: ``DropWriter`` sheds most of the bytes a
pump offers, by design, so only an open loop at a fixed rate measures the
chain.
"""

from __future__ import annotations

import hashlib
import io
import os
import shutil
import subprocess
import sys
import time

import numpy as np

import gen
from common import Context, Result, Stopwatch, cpu_s, median, pct, peak_rss_mib
from probes import ConsumerProbe, DeliveryLog, EnqueueStamp, TimedSink

PACED_MIB_S = 32.0
OVERLOAD_MIB_S = 128.0
STREAM = "bench-writer"
PKEY = "bench-key"
MIB = 1024 * 1024
SETUP_REPEATS = 5  # CLI cold starts per run; setup_s is their median
READBACK_REPEATS = 3
RAMP_S = 0.5  # the overload phase's first half second fills the chain

# the per-layer metrics a traced run reports; the spool sink never fails a
# put, so the writer never retries
LAYERS = (
    "buffered.write_calls", "buffered.write_p99_us", "buffered.flushes",
    "drop.enqueued", "drop.dropped_writes", "drop.dropped_bytes",
    "drop.queue_wait_p50_ms", "drop.queue_wait_p99_ms",
    "writer.busy_s", "writer.put_calls", "writer.records", "writer.retries",
    "spool.put_busy_s", "spool.put_mib_s", "spool.disk_bytes_per_payload_byte",
    "consumer.get_records_calls", "consumer.busy_s", "consumer.scan_amplification",
    "proc.peak_rss_mib",
)
MAY_BE_ZERO = ("writer.retries",)


class Chain:
    """The ``new_fast_writer`` chain over a spool directory. Traced, it is
    composed stage by stage from the public classes with timing shims
    between the stages; untraced, ``new_fast_writer`` builds it."""

    def __init__(self, spool: str, traced: bool) -> None:
        from kinesis_spark.ingest import (
            BUFFER_SIZE, DROP_QUEUE_DEPTH, FLUSH_PERIOD_S, BufferedWriter,
            DropWriter, Writer, new_fast_writer,
        )
        from kinesis_spark.streaming.spool import SpoolStreamClient

        self.traced = traced
        self.log = DeliveryLog(SpoolStreamClient(spool), timed=traced)
        if not traced:
            self.head, self.drop = new_fast_writer(
                self.log, STREAM, PKEY, on_drop=_ignore, shard_rate_limits=None
            )
            return
        self.stamp = EnqueueStamp()
        self.writer = TimedSink(
            Writer(self.log, STREAM, PKEY, throttle=None), self.stamp.stamps
        )
        self.drop = DropWriter(self.writer, DROP_QUEUE_DEPTH, _ignore)
        self.stamp.drop = self.drop
        self.head = BufferedWriter(self.stamp, BUFFER_SIZE, FLUSH_PERIOD_S)
        self.write_s: list[float] = []

    def close(self) -> None:
        self.head.close()
        self.drop.close()


def _ignore(_payload) -> None:
    """Drops are read from ``DropWriter``'s counters, not logged per drop."""


def _n_due(stream: gen.WriterStream, rate: float, duration: float) -> int:
    """How many writes fall due within ``duration`` at ``rate``."""
    return int(np.searchsorted(stream.ends - stream.sizes, rate * duration))


def _offer(chain: Chain, stream: gen.WriterStream, rate: float, n: int):
    """Open loop: write i is due at ``t0 + start_i / rate``; the generator
    sleeps until then, never waits for the chain. Returns ``(t0, due, lag)``
    of the first ``n`` writes."""
    starts = stream.ends - stream.sizes
    head_write = chain.head.write
    payload = stream.payload
    clock, sleep = time.perf_counter, time.sleep
    timed = chain.write_s.append if chain.traced else None
    t0 = clock() + 0.01
    due = (t0 + starts[:n] / rate).tolist()
    lag = [0.0] * n
    for i in range(n):
        d = due[i]
        now = clock()
        if d - now > 0.0005:
            sleep(d - now)
            now = clock()
        lag[i] = now - d
        head_write(payload(i))
        if timed is not None:
            timed(clock() - now)
    return t0, np.array(due), np.array(lag)


def _inputs(ctx: Context, rates: tuple[float, float], durations: tuple[float, float]):
    """Both phases' streams, their write counts and the paced writes'
    expected digest."""
    streams = [
        gen.writer_stream(ctx.seed + 1_000_003 * i, int(r * d) + MIB)
        for i, (r, d) in enumerate(zip(rates, durations))
    ]
    counts = [_n_due(s, r, d) for s, r, d in zip(streams, rates, durations)]
    return streams, counts, streams[0].digest(counts[0])


def _cli_cold_start(spool: str) -> float:
    """Wall time of the writer CLI on empty stdin: interpreter start, the
    program's imports, building the chain and closing it. This is all the
    set-up a writer has; the inputs are generated outside it."""
    with Stopwatch() as sw:
        subprocess.run(
            [sys.executable, "-m", "kinesis_spark", STREAM, "-p", PKEY,
             "--fake-sink", spool],
            stdin=subprocess.DEVNULL, check=True, timeout=60,
        )
    return sw.s


def run(ctx: Context) -> Result:
    res = Result()
    # full rates even at smoke-test sizes, so that the overload phase sheds
    rates = (PACED_MIB_S * MIB, OVERLOAD_MIB_S * MIB)
    durations = (0.2 * ctx.seconds, 0.6 * ctx.seconds)
    (paced, overload), (n_paced, n_over), want = _inputs(ctx, rates, durations)
    setups = [_cli_cold_start(ctx.path(f"spool-setup{i}")) for i in range(SETUP_REPEATS)]

    # -- paced ---------------------------------------------------------
    spool = ctx.path("spool-paced")
    paced_chain = chain = Chain(spool, ctx.trace)
    cpu0 = cpu_s()
    _, due, lag = _offer(chain, paced, rates[0], n_paced)
    chain.close()
    paced_cpu = cpu_s() - cpu0
    done = np.array(chain.log.done_at)
    cum = np.array(chain.log.cum_bytes, dtype=np.int64)
    sent = int(paced.ends[n_paced - 1])
    k = np.minimum(
        np.searchsorted(cum, paced.ends[:n_paced], side="left"), len(done) - 1
    )
    delivery_ms = (done[k] - due) * 1000.0
    if chain.drop.dropped_writes:
        res.fail(f"paced phase: {chain.drop.dropped_writes} flushes dropped")

    # -- overload ------------------------------------------------------
    over_chain = chain = Chain(ctx.path("spool-overload"), ctx.trace)
    o0, _, o_lag = _offer(chain, overload, rates[1], n_over)
    chain.close()
    shutil.rmtree(ctx.path("spool-overload"), ignore_errors=True)
    # delivered bytes from the end of the ramp to the end of the phase
    edges = o0 + np.array([RAMP_S, durations[1]])
    delivered = np.interp(edges, chain.log.done_at, chain.log.cum_bytes)
    overload_mib_s = (delivered[1] - delivered[0]) / MIB / (edges[1] - edges[0])

    # -- read-back through the CLI's --consume path ----------------------
    from kinesis_spark.__main__ import main as cli

    probe = ConsumerProbe().install() if ctx.trace else None
    reads, codes = [], []
    try:
        for _ in range(READBACK_REPEATS):
            out = io.BytesIO()
            with Stopwatch() as sw:
                codes.append(
                    cli([STREAM, "-p", PKEY, "--fake-sink", spool, "--consume"], stdout=out)
                )
            reads.append(sw.s)
    finally:
        if probe is not None:
            probe.uninstall()
    consume_s = median(reads)
    got = out.getbuffer()
    if "corrupt_byte" in ctx.inject and len(got):
        got[len(got) // 2] ^= 0xFF
    bad = _mismatched_writes(paced, n_paced, got, want) if not any(codes) else n_paced
    if bad:
        res.fail(f"read-back: {bad} paced writes not delivered byte-exactly", n=bad)
    errors = paced_chain.log.errors + over_chain.log.errors
    if errors:
        res.fail(f"{errors} put calls raised", n=errors)

    res.attempted = n_paced + n_over
    res.e2e = {
        "setup_s": median(setups),
        "latency_p50_ms": pct(delivery_ms, 50),
        "throughput_mib_s": overload_mib_s,
    }
    res.detail = {
        "writer.delivery_p50_ms": res.e2e["latency_p50_ms"],
        "writer.delivery_p99_ms": pct(delivery_ms, 99),
        "writer.delivery_samples": n_paced,
        "writer.cpu_s_per_gib": paced_cpu / (sent / (1024 * MIB)),
        "writer.overload_mib_s": overload_mib_s,
        "writer.consume_mib_s": sent / MIB / consume_s,
        "writer.consume_s": consume_s,
        "paced.offered_mib_s": rates[0] / MIB,
        "paced.mib": sent / MIB,
        "paced.generator_lag_p99_ms": pct(lag, 99) * 1000.0,
        "overload.offered_mib_s": rates[1] / MIB,
        "overload.generator_lag_p99_ms": pct(o_lag, 99) * 1000.0,
        "overload.dropped_writes": over_chain.drop.dropped_writes,
        "readback_s": reads,
        "paced.write_size_shares": {
            str(b): round(float(np.mean(paced.sizes[:n_paced] == b)), 4)
            for b in gen.WRITE_SIZES
        },
        "setup.cli_starts_s": setups,
    }
    if ctx.trace:
        res.layers = _layers((paced_chain, over_chain), spool, sent, probe)
    res.layers["proc.peak_rss_mib"] = peak_rss_mib()
    shutil.rmtree(spool, ignore_errors=True)
    return res


def _layers(chains, spool: str, paced_bytes: int, probe: ConsumerProbe) -> dict:
    """Per-layer numbers of the paced and overload phases together; the
    spool's on-disk ratio from the paced spool."""
    writes = [t for c in chains for t in c.write_s]
    waits = [t for c in chains for t in c.writer.waits]
    logs = [c.log for c in chains]
    put_s = sum(lg.busy_s for lg in logs)
    disk = sum(
        os.path.getsize(os.path.join(spool, f)) for f in os.listdir(spool)
    )
    return {
        "buffered.write_calls": len(writes),
        "buffered.write_p99_us": pct(writes, 99) * 1e6,
        "buffered.flushes": sum(c.stamp.flushes for c in chains),
        "drop.enqueued": sum(c.stamp.enqueued for c in chains),
        "drop.dropped_writes": sum(c.drop.dropped_writes for c in chains),
        "drop.dropped_bytes": sum(c.drop.dropped_bytes for c in chains),
        "drop.queue_wait_p50_ms": pct(waits, 50) * 1000.0,
        "drop.queue_wait_p99_ms": pct(waits, 99) * 1000.0,
        "writer.busy_s": sum(c.writer.busy_s for c in chains),
        "writer.put_calls": sum(len(lg.done_at) for lg in logs),
        "writer.records": sum(lg.records for lg in logs),
        "writer.retries": sum(lg.retries for lg in logs),
        "spool.put_busy_s": put_s,
        "spool.put_mib_s": sum(lg.delivered for lg in logs) / MIB / put_s,
        "spool.disk_bytes_per_payload_byte": disk / paced_bytes,
        **probe.metrics(),
    }


def _mismatched_writes(stream: gen.WriterStream, n: int, got, want: str) -> int:
    """Paced writes whose bytes are not at their place in the read-back."""
    if len(got) == int(stream.ends[n - 1]) and hashlib.sha256(got).hexdigest() == want:
        return 0
    bad = 0
    for i in range(n):
        s, e = int(stream.ends[i] - stream.sizes[i]), int(stream.ends[i])
        if e > len(got) or got[s:e] != stream.payload(i):
            bad += 1
    return bad
