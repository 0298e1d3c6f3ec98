"""``intake`` workload: ``run_intake`` draining seeded documents from the
spool transport into the transactional corpus.

Documents are put through ``SpoolStreamClient.put_records`` over 8
partition keys, outside every timed region. Then:

1. *backlog* — one ``run_intake`` drains a backlog of thousands of
   documents. Bound by per-document cost: consumer reads, MinHash band
   keys and the admission joins.
2. *incremental* — small waves follow, one ``run_intake`` after each. Bound
   by per-drain fixed cost: query start, staging, manifest commits, the
   rollup upsert, and the source re-reading the whole retained spool on
   every ``get_records`` call.

The waves carry fixed shares of exact replays, near-duplicates and
gated-out documents (see ``gen.intake_waves``). Set-up is the session
start, the registry load and one warm-up drain on separate stores (a fresh
JVM's first drain costs several times a warm one); generating and putting
the documents happen outside it.

Checks: no duplicate ``doc_id`` or content hash in the corpus; the admitted
set equals a greedy arrival-order oracle of the sink's admission rule; the
audit's ``n_docs`` sum equals the corpus row count.
"""

from __future__ import annotations

import collections
import hashlib
import re
import time

import gen
from common import Context, Result, Stopwatch, jvm_pid, median, pct, peak_rss_mib, stop_spark

STREAM = "bench-intake"
PUT_BATCH = 500
WS = re.compile(r"[ \t\n\f\r\x0B]+")  # kinesis_spark.queries.WS_RE
N_HASHES, BAND_ROWS = 8, 2  # kinesis_spark.queries.dedup

# the per-layer metrics a traced run reports
LAYERS = (
    "consumer.get_records_calls", "consumer.busy_s", "consumer.scan_amplification",
    "source.latest_offset_ms", "source.get_batch_ms",
    "source.spool_records_per_batch_record",
    "sink.add_batch_s", "sink.admit_stage_s", "txstore.tx_append_s",
    "index.append_s", "rollup.upsert_s",
    "intake.docs_admitted", "intake.replays_rejected", "intake.near_dups_rejected",
    "query.start_s", "query.wal_commit_ms", "query.planning_ms",
    "spark.jobs", "spark.stages", "spark.shuffle_bytes", "spark.executor_run_s",
    "session.start_s", "registry.load_s", "proc.peak_rss_mib",
)
MAY_BE_ZERO = ()


def sizes(tiny: bool) -> dict:
    if tiny:
        return {"backlog": 300, "waves": 1, "wave": 60, "warmup": 30}
    return {"backlog": 1500, "waves": 1, "wave": 200, "warmup": 30}


def put(spool: str, rows: list[dict]) -> list[float]:
    """Put ``rows`` in order; returns when each row's put completed."""
    from kinesis_spark.ingest.writer import Record
    from kinesis_spark.streaming.spool import SpoolStreamClient

    client = SpoolStreamClient(spool)
    done = []
    for i in range(0, len(rows), PUT_BATCH):
        chunk = rows[i : i + PUT_BATCH]
        client.put_records(
            STREAM,
            [Record(gen.partition_key(r["doc_id"]), gen.record_bytes(r)) for r in chunk],
        )
        done += [time.perf_counter()] * len(chunk)
    return done


def config(ctx: Context, name: str):
    from kinesis_spark.pipeline import IntakeConfig

    return IntakeConfig(
        spool_dir=ctx.path(name, "spool"), stream=STREAM,
        work_dir=ctx.path(name, "work"), await_s=120.0,
    )


def run(ctx: Context) -> Result:
    res = Result()
    n = sizes(ctx.tiny)
    with Stopwatch() as gen_sw:
        inp = gen.intake_waves(ctx.seed, n["backlog"], n["waves"], n["wave"])
        warm = gen.intake_waves(ctx.seed + 7_000_001, n["warmup"], 0, 0)

    tracer = None
    if ctx.trace:
        from tracer import IntakeTracer

        tracer = IntakeTracer(ctx)
    with Stopwatch() as session_sw:
        from kinesis_spark.session import get_spark

        spark = get_spark("perfbench-intake")
    try:
        _measure(ctx, res, spark, tracer, inp, warm, n)
    finally:
        stop_spark(spark)
    res.e2e["setup_s"] += session_sw.s
    res.detail["inputs.generate_s"] = gen_sw.s
    res.detail["setup.session_s"] = session_sw.s
    if ctx.trace:
        res.layers["session.start_s"] = session_sw.s
    return res


def _measure(ctx, res, spark, tracer, inp, warm, n) -> None:
    with Stopwatch() as registry_sw:
        from kinesis_spark.queries import get_registry

        get_registry()
    from kinesis_spark.pipeline import make_intake_sink, run_intake
    from kinesis_spark.txstore import tx_read

    def drain(cfg, label):
        sink = tracer.sink(spark, cfg) if tracer else make_intake_sink(spark, cfg)
        if tracer:
            tracer.before(label)
        t = time.perf_counter()
        audit = run_intake(spark, cfg, sink)
        done = time.perf_counter()
        if tracer:
            tracer.after(label)
        return audit, t, done

    wcfg = config(ctx, "warmup")
    put(wcfg.spool_dir, warm.waves[0])
    with Stopwatch() as warm_sw:
        drain(wcfg, "warmup")[0].collect()

    cfg = config(ctx, "run")
    put(cfg.spool_dir, inp.waves[0])
    audit, t0, t1 = drain(cfg, "backlog")
    backlog_s = t1 - t0
    drains, doc_latency = [], []
    replays_rejected = 0
    for i, wave in enumerate(inp.waves[1:]):
        put_done = put(cfg.spool_dir, wave)
        before = _corpus_id_counts(spark, cfg) if tracer else None
        audit, t0, t1 = drain(cfg, f"wave{i}")
        drains.append(t1 - t0)
        doc_latency += [t1 - t for t in put_done]
        if tracer:
            # a replay is rejected when its doc_id gained no corpus row
            after = _corpus_id_counts(spark, cfg)
            replays_rejected += sum(
                1 for r in wave
                if r.get("_replay") and after[r["doc_id"]] == before[r["doc_id"]]
            )

    # -- checks -------------------------------------------------------
    res.attempted = 1 + len(drains)
    corpus = [
        (r.doc_id, r.text)
        for r in tx_read(spark, cfg.corpus).select("doc_id", "text").collect()
    ]
    ids = [d for d, _ in corpus]
    admitted = set(ids)
    hashes = {hashlib.sha256(t.encode()).hexdigest() for _, t in corpus}
    want = oracle_admitted(inp.waves)
    n_docs = sum(r.n_docs for r in audit.collect())
    if len(admitted) != len(ids):
        res.fail(f"corpus holds {len(ids) - len(admitted)} duplicate doc_ids")
    if len(hashes) != len(ids):
        res.fail(f"corpus holds {len(ids) - len(hashes)} duplicate texts")
    if admitted != want:
        res.fail(
            f"admitted set differs from the oracle: {len(admitted - want)} extra, "
            f"{len(want - admitted)} missing"
        )
    if n_docs != len(ids):
        res.fail(f"audit n_docs {n_docs} != corpus rows {len(ids)}")

    setup_s = registry_sw.s + warm_sw.s
    doc_bytes = sum(len(gen.record_bytes(r)) for r in inp.waves[0])
    res.e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": median(drains) * 1000.0,
        "throughput_mib_s": doc_bytes / 2**20 / backlog_s,
    }
    cats = [inp.category[d] for d in ids]
    res.detail = {
        "intake.backlog_docs_per_s": len(inp.waves[0]) / backlog_s,
        "intake.backlog_s": backlog_s,
        "intake.drain_p50_s": median(drains),
        "intake.drains_s": drains,
        "intake.doc_latency_p99_s": pct(doc_latency, 99),
        "intake.backlog_docs": len(inp.waves[0]),
        "intake.wave_docs": n["wave"],
        "setup.registry_s": registry_sw.s,
        "setup.warmup_drain_s": warm_sw.s,
        "input_shares": inp.shares(),
        "corpus_docs": len(ids),
        "admitted_by_category": {c: cats.count(c) for c in gen.CATEGORIES},
    }
    layers = {
        "registry.load_s": registry_sw.s,
        "intake.docs_admitted": len(ids),
        "intake.replays_rejected": replays_rejected,
        "intake.near_dups_rejected": sum(
            1 for d, c in inp.category.items() if c == "near_dup" and d not in admitted
        ),
    }
    if tracer:
        layers |= tracer.metrics()
        res.detail["drains"] = tracer.detail()
    layers["proc.peak_rss_mib"] = peak_rss_mib(jvm_pid(spark))
    res.layers = layers if ctx.trace else {}


def _corpus_id_counts(spark, cfg) -> collections.Counter:
    from kinesis_spark.txstore import tx_read

    rows = tx_read(spark, cfg.corpus).select("doc_id").collect()
    return collections.Counter(r.doc_id for r in rows)


# --------------------------------------------------------------------------
# the admission oracle
# --------------------------------------------------------------------------


def band_keys(text: str) -> set[str]:
    """The sink's MinHash band keys (``streaming.neardup.band_keys``):
    distinct word 3-shingles, 8 seeded md5 minima, 4 bands of 2 rows."""
    toks = WS.split(text)
    if len(toks) < 3:
        return set()
    shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    mh = [
        min(hashlib.md5(f"{s}#{sh}".encode()).hexdigest() for sh in shingles)
        for s in range(N_HASHES)
    ]
    return {
        "|".join(mh[b * BAND_ROWS : (b + 1) * BAND_ROWS])
        for b in range(N_HASHES // BAND_ROWS)
    }


def oracle_admitted(waves: list[list[dict]]) -> set[int]:
    """Greedy replay of the sink's admission rule in arrival order, one
    batch per drain: the gate; per batch the lowest doc_id per content
    hash, minus hashes already admitted; then drop a document that shares
    a band key with an admitted one or with a lower-id document of the
    same batch."""
    admitted: set[int] = set()
    seen: set[str] = set()
    index: set[str] = set()
    for wave in waves:
        gated = sorted(
            (
                r for r in wave
                if r["lang"] in gen.KEEP_LANGS
                and len([t for t in WS.split(r["text"]) if t]) >= gen.MIN_TOKENS
            ),
            key=lambda r: r["doc_id"],
        )
        first: dict[str, dict] = {}
        for r in gated:
            first.setdefault(hashlib.sha256(r["text"].encode()).hexdigest(), r)
        fresh = sorted(
            ((h, r) for h, r in first.items() if h not in seen),
            key=lambda x: x[1]["doc_id"],
        )
        batch_bands: set[str] = set()
        keep = []
        for h, r in fresh:
            keys = band_keys(r["text"])
            if not keys & index and not keys & batch_bands:
                keep.append((h, r, keys))
            batch_bands |= keys
        for h, r, keys in keep:
            admitted.add(r["doc_id"])
            seen.add(h)
            index |= keys
    return admitted
