"""``query_mix`` workload: 8 registry queries as batch analytics, with no
streaming or ingest.

The queries cover the ROADMAP's targets: the MinHash consumers (d3, p1,
p3, p8), the iterative pinned queries (g1, sim11) and a TPC-H scan and
join (q1, q18). The MinHash kernel also
runs inside ``intake`` admission, so a kernel change shows on two different
uses.

Inputs are the registry's tables generated from the seed at the sf0.01
fixture's row counts; DuckDB computes each query's ``oracle_sql`` digest on
the same files before the session starts. Set-up starts the session, loads
the registry and runs one untimed warm-up pass (three queries at a time:
the pass only has to fill the JIT and codegen caches). The timed passes
then run every query alone, in name order, and check an order-independent
digest of its rows against the oracle's.
"""

from __future__ import annotations

import concurrent.futures
import json
import os
import subprocess
import sys
import time

import digest
import gen
from common import Context, Result, Stopwatch, jvm_pid, median, peak_rss_mib, stop_spark

QUERIES = tuple(sorted(
    "q1_pricing_summary q18_large_volume_customer d3_minhash_lsh_pairs "
    "p1_llm_prep_pipeline p3_incremental_prep p8_pipeline_funnel "
    "g1_pagerank_trade_graph sim11_kmeans_refine".split()
))
WARMUP_THREADS = 3

# the per-layer metrics a traced run reports
LAYERS = tuple(
    f"q.{n}.{m}" for n in QUERIES for m in ("s", "jobs", "shuffle_bytes", "executor_run_s")
) + ("session.start_s", "registry.load_s", "proc.peak_rss_mib")
MAY_BE_ZERO = ()


def oracle_digests(sf_dir: str) -> dict[str, str]:
    """DuckDB digests of each query's ``oracle_sql``, computed in a child
    process so that this one loads the registry first inside set-up."""
    p = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "oracle.py"),
         sf_dir, *QUERIES],
        capture_output=True, text=True, check=True, timeout=150,
    )
    return json.loads(p.stdout)


def run(ctx: Context) -> Result:
    res = Result()
    scale = 0.2 if ctx.tiny else 1.0
    sf_dir = ctx.path("data")
    with Stopwatch() as gen_sw:
        input_bytes = gen.write_tables(ctx.seed, scale, sf_dir)
        want = oracle_digests(sf_dir)
    with Stopwatch() as session_sw:
        from kinesis_spark.session import get_spark

        spark = get_spark("perfbench-query-mix")
    try:
        _measure(ctx, res, spark, sf_dir, session_sw.s, gen_sw.s, input_bytes, want)
    finally:
        stop_spark(spark)
    return res


def _measure(ctx, res, spark, sf_dir, session_s, gen_s, input_bytes, want) -> None:
    with Stopwatch() as registry_sw:
        from kinesis_spark.queries import get_registry

        reg = get_registry()
    from kinesis_spark.pins import release_shared_pins

    warm_s, warm_errors = _warm_up(spark, reg, sf_dir)

    tracer = None
    if ctx.trace:
        from status import StatusStore

        tracer = StatusStore(spark)
    times: dict[str, list[float]] = {n: [] for n in QUERIES}
    layers: dict[str, float] = {}
    passes = 0
    t_end = time.perf_counter() + ctx.seconds
    while passes == 0 or time.perf_counter() < t_end:
        passes += 1
        for name in QUERIES:
            res.attempted += 1
            if tracer:
                spark.sparkContext.setJobGroup(f"perfbench-{name}-{passes}", name)
            try:
                release_shared_pins(blocking=False)
                t = time.perf_counter()
                df = reg[name].spark_fn(spark, sf_dir)
                rows = df.collect()
                times[name].append(time.perf_counter() - t)
            except Exception as exc:  # a failing query is a failed operation
                res.fail(f"{name}: {exc!r}"[:300])
                continue
            got = digest.digest(df.columns, rows)
            if "wrong_digest" in ctx.inject and name == QUERIES[0]:
                got = "0" * 64
            if got != want.get(name):
                res.fail(f"{name}: digest {got[:12]} != oracle {want.get(name)}")
            if tracer and passes == 1:
                st = tracer.group(f"perfbench-{name}-{passes}")
                layers[f"q.{name}.jobs"] = st.jobs
                layers[f"q.{name}.shuffle_bytes"] = st.shuffle_write_bytes
                layers[f"q.{name}.executor_run_s"] = st.executor_run_s
    per_query = {n: median(v) for n, v in times.items() if v}
    total = sum(per_query.values())
    res.e2e = {
        "setup_s": session_s + registry_sw.s + warm_s,
        "latency_p50_ms": median(per_query.values()) * 1000.0,
        "throughput_mib_s": input_bytes / 2**20 / total,
    }
    res.detail = {
        "query_mix.total_s": total,
        "query_mix.passes": passes,
        "per_query_s": per_query,
        "input_mib": input_bytes / 2**20,
        "inputs.generate_and_oracle_s": gen_s,
        "setup.session_s": session_s,
        "setup.registry_s": registry_sw.s,
        "setup.warmup_s": warm_s,
        "warmup_errors": warm_errors,
    }
    if ctx.trace:
        layers |= {f"q.{n}.s": s for n, s in per_query.items()}
        layers["session.start_s"] = session_s
        layers["registry.load_s"] = registry_sw.s
        layers["proc.peak_rss_mib"] = peak_rss_mib(jvm_pid(spark))
        res.layers = layers


def _warm_up(spark, reg, sf_dir) -> tuple[float, list[str]]:
    """One untimed pass, :data:`WARMUP_THREADS` queries at a time."""
    from kinesis_spark.pins import release_shared_pins

    def noop(name):
        release_shared_pins(blocking=False)
        reg[name].spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    with Stopwatch() as sw:
        with concurrent.futures.ThreadPoolExecutor(WARMUP_THREADS) as pool:
            futures = [pool.submit(noop, n) for n in QUERIES]
    return sw.s, [repr(f.exception()) for f in futures if f.exception() is not None]
