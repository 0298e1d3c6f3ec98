#!/usr/bin/env python
"""Scale-stress harness: build a 10x replica of the sf0.1 document and
embedding corpora (= sf1-equivalent for the t*/mm*/sim*/d* families, which
read only those tables) and time the slowest operators at 1x vs 10x.

Replication preserves the near-dup structure the dedup family needs: each
replica of a document differs only by a one-token suffix, so every original
document becomes a near-dup group of 10 — MinHash/SimHash candidate volume
grows superlinearly exactly as a real crawl's duplicate clusters would.
Embeddings get a small deterministic per-replica perturbation so ANN
probes see 10x distinct points, not 10 copies of each.

Both corpora are rewritten with the SAME 32-partition layout (the stock
sf0.1 table is a single parquet file, i.e. a single scan task — timing 1x
against a well-partitioned 10x would measure layout, not data volume).
Replica ids use dense block offsets (old_id + replica * n_original) so
id-bounded query sets (sim*'s vec_id < k query vectors) keep their exact
1x meaning and modulo-derived sets (t7's doc_id % 50 benchmark split,
mm*'s doc_id % 3 modality) scale with the corpus instead of being pruned
away by parquet min/max stats.

Usage:  python scripts/scale_stress.py [--rebuild]
Output: one JSON line {"replicas": N, "queries": {name: {"x1": s,
"xN": s}}, ...} — "xN" is the high-replica timing at whatever
SCALE_STRESS_REPLICAS was (the top-level "replicas" field says which;
ADVICE r10: a hardcoded "x10" key silently mislabeled x30 runs).
Scaled parquet lives under .scale/{x1,x10}/ (gitignored, ~120 MB).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from kinesis_spark.io import load_table  # noqa: E402
from kinesis_spark.pins import release_shared_pins  # noqa: E402
from kinesis_spark.queries import get_registry  # noqa: E402
from kinesis_spark.session import get_spark  # noqa: E402

SF_SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1X = os.path.join(REPO, ".scale", "x1")
# SCALE_STRESS_REPLICAS picks the high point (default 10; e.g. 30 for a
# second point on the growth curve — each multiplier gets its own
# .scale/x{N} dir so the 10x and 30x corpora coexist)
REPLICAS = int(os.environ.get("SCALE_STRESS_REPLICAS", "10"))
SF10X = os.path.join(REPO, ".scale", f"x{REPLICAS}")
# slowest members of each family (bench.py ranking) + the r1 table's rows
OPERATORS = [
    "d3_minhash_lsh_pairs",
    "d6_simhash_signature",
    "t4_char_bigrams",
    "t5_doc_fingerprint",
    "t6_tfidf_top_terms",
    "t7_decontamination",
    "mm4_nibble_histogram",
    "mm5_frame_energy",
    "mm7_phash_neardup",
    "mm8_scene_segments",
    "d18_dup_span_excision",
    "p9_incremental_span_excision",
    "mm9_clip_fingerprint_match",
    "mm10_shared_segment_pairs",
    "sim1_topk_cosine",
    "sim5_brp_ann_mllib",
    "sim6_ivf_ann",
    "t8_bpe_token_count",
    "d12_url_canonical_dedup",
    "d7_simhash_pairs",
    # the heaviest dedup family end-to-end: candidate pairs -> exact
    # verify -> components -> canonical pick (broadcast-hint fixes r3)
    "d9_dedup_components",
    "d10_edit_distance_verify",
    "d13_canonical_selection",
    # r3: the hot-bucket cap (d14) vs uncapped banding (d3/d7) is the
    # point of this corpus — every doc becomes a 10-member bucket
    "d14_capped_lsh_pairs",
    # r3: bloom incremental dedup — the broadcast bitmap is fixed-size,
    # so x10 should cost ~one extra corpus scan, nothing superlinear
    "d15_bloom_incremental_dedup",
    # r4: re-blocked on (label, scaled sign-LSH sub-bucket) — bucket count
    # grows with the label population, so pair work should now be linear
    "sim9_semdedup_prune",
    "t9_repetition_signals",
    "s10_reproducible_shuffle",
    "p1_llm_prep_pipeline",
    # r3 additions: fingerprint buckets grow to 10-member groups here
    # (pair output scales like d3's, by construction); the PQ codebook/
    # LUT stay fixed-size, so sim10 should scale ~linearly; the bigram
    # model doubles its join inputs linearly; s13's rate table stays
    # source-count-sized
    "d16_fingerprint_overlap",
    "sim10_pq_adc",
    "t11_bigram_lm_score",
    "s13_temperature_mixture",
    # r3: Lloyd refinement — per-round cost is (corpus x K) map-side
    # argmin + a (K x 64)-cell aggregate; should scale ~linearly
    "sim11_kmeans_refine",
    # corpus-level boilerplate removal: threshold-bounded gram set; the
    # replica corpus makes every original doc's grams boilerplate, so the
    # rewrite pays the 10x hit volume
    "t13_boilerplate_ngrams",
    # r4: bounded-cluster SemDedup through the HIERARCHICAL two-level
    # quantizer — pair stage linear (cluster size pinned at ~64) and
    # assignment O(n*sqrt(K)) instead of the removed flat O(n*K)
    "sim12_semdedup_bounded",
    # r4: snapshot diff shuffles (key, 16-byte md5) only — linear; the
    # filtered ANN adds a 1/TENANTS-selective key next to the cell id,
    # so candidate volume (and the rerank fold) should scale ~linearly
    "prov4_snapshot_diff",
    "sim13_filtered_ann",
    # r4 additions: k-center = K bounded corpus scans (K-row broadcast
    # state), so ~linear; the g* graph family runs on key-offset replica
    # copies of orders/lineitem (see _build_rel) — 10x nodes and edges,
    # fixed iteration count, so per-round shuffles should scale ~linearly
    "sim14_kcenter_coreset",
    "g1_pagerank_trade_graph",
    "g2_bfs_supply_hops",
    "g3_neardup_triangles",
    # r4 additions: d17 verifies LSH candidates only (candidate volume
    # grows like d3's, per-pair work stays |A|+|B|); t15's two shuffles
    # carry 8-byte hashes (gram cardinality ~linear in the corpus); g4's
    # capped wedge count is supplier-linear regardless of degree skew;
    # sim15 is two map-reduce passes with broadcast stat relations
    "d17_containment_overlap",
    "t15_ngram_novelty",
    "g4_copurchase_links",
    "sim15_centroid_outliers",
    # t16 = t14's learning loop (vocab-table-sized rounds) + one
    # broadcast-vocab join over the words scan — should scale ~linearly
    "t16_bpe_apply",
    # a15's moment algebra is one partial-agg shuffle over the replicated
    # lineitem (6 fixed-width accumulators/group); sim16 is the
    # brute-force MIPS baseline (fixed query set x corpus folds —
    # linear); s16's two passes share one materialized gram-hash
    # relation with a fixed 4096-slot weight broadcast
    "a15_exact_correlation",
    "sim16_mips_norm_augment",
    "s16_dsir_reweight",
    # r6: p3 (in-query index derivation, rescans the corpus per batch)
    # vs p7 (persisted index probe) is the POINT of the pair — p3's
    # time should grow with the corpus while p7's warm probe stays
    # batch-scale plus two index-relation reads. p7's index is keyed by
    # (documents path, mtime), so each scale dir builds its own once
    # and the timed warm runs measure only the probe.
    "p3_incremental_prep",
    "p7_incremental_prep_indexed",
    # r7 (VERDICT r6 task 3): the round-6 newcomers. p8 is one scan of
    # documents with a 6-row funnel window; dq4 one orders scan into a
    # fixed bin spine; dq5 one embeddings scan into a 64-dim spine —
    # all should be ~linear. sim17's margin mining runs k-NN folds over
    # a fixed query set (linear in corpus); sim18 composes the sim2 ANN
    # probe with a fixed-query exact ground truth (ANN candidate volume
    # grows with bucket occupancy — the replica corpus makes every
    # bucket 10-deep, so expect superlinear CANDIDATES with linear
    # per-candidate work, like d3/d14).
    "p8_pipeline_funnel",
    "dq4_psi_drift",
    "dq5_embedding_drift",
    "sim17_margin_bitext",
    "sim18_ann_recall_eval",
    # r8: d19 joins the signature relation onto capped candidates (two
    # narrow equi-shuffles, candidate-bounded); dq6 is one scan + a
    # 10-row window; p11 one map-only scan + (lang x source) rollup;
    # mm7c reuses mm7's pair output + a metadata-only scan
    "d19_signature_jaccard_estimate",
    # d20 vs d7 at scale is the POINT of the pair: the 30x replica
    # corpus makes every band bucket ~replica-wide, so d7's expansion
    # grows quadratically while d20's stays cap-bounded once replicas
    # exceed SIM_MAX_BUCKET
    "d20_capped_simhash_pairs",
    "dq6_quality_threshold_sweep",
    "p11_tokenizer_fertility",
    "mm7c_phash_recall",
    # r9 (VERDICT r8 task 2): s17's global_pos is now range-partition +
    # per-partition rank + broadcast offsets — two source-partitioned
    # windows, one range shuffle, one 32-row collect; should be ~linear
    "s17_interleaved_schedule",
    # r9 newcomers: t18 is one explode + one source-keyed two-distinct
    # aggregate (~linear); p12 is two global_row_number passes + one
    # scored scan (~linear, same plan family as s17); sim19 pins one
    # widest-probe candidate relation whose volume grows with cell
    # occupancy (like sim6's probe side — expect superlinear candidates
    # with linear per-candidate work on the replica corpus)
    "t18_vocab_growth",
    "p12_curriculum_interleave",
    "sim19_nprobe_recall_sweep",
    # d21 is subset-bounded by construction (all-pairs on a fixed 200-doc
    # sample; only the pushed-down doc_id<200 scan grows) — expect ~1.0x;
    # dq7 rides d14's capped candidates + a source-keyed rollup
    "d21_lsh_calibration",
    "dq7_neardup_rate_by_source",
    # t19: one count shuffle + lang-partitioned top-30 window over the
    # vocabulary-sized relation — ~linear in tokens
    "t19_zipf_slope",
]


def _build(spark, out_dir: str, replicas: int) -> None:
    rep = spark.range(replicas).select(F.col("id").alias("replica"))
    docs = load_table(spark, SF_SRC, "documents")
    n_docs = docs.count()
    (
        docs.crossJoin(rep)
        .select(
            (F.col("doc_id") + F.col("replica") * F.lit(n_docs)).alias("doc_id"),
            # one-token suffix => replicas form a near-dup group; replica 0
            # stays byte-identical to the source corpus
            F.when(F.col("replica") == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(" r"), F.col("replica")))
            .alias("text"),
            "lang",
            "source",
        )
        # n_chars must agree with the suffixed text (metadata that lies
        # about its row corrupts any length-validating operator)
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )
    emb = load_table(spark, SF_SRC, "embeddings")
    n_vecs = emb.count()
    (
        emb.crossJoin(rep)
        .select(
            (F.col("vec_id") + F.col("replica") * F.lit(n_vecs)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: (x + F.col("replica").cast("float") * F.lit(1e-3)).cast(
                    "float"
                ),
            ).alias("embedding"),
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "embeddings.parquet"))
    )


def _build_rel(spark, out_dir: str, replicas: int, rebuild: bool = False) -> None:
    """Replicate orders+lineitem as REPLICAS disjoint key-offset copies
    (r4 addition for the g* graph family): every key space shifts by
    replica * (max+1), so the trade graph becomes `replicas` disconnected
    components — node, edge, and per-iteration message volume all scale
    by exactly `replicas`, the honest linear-scale test for iterative
    graph ops. Reuses existing corpora unless --rebuild (staleness here
    would silently time the g* family against a different corpus than
    the documents/embeddings families)."""
    if (
        not rebuild
        and os.path.exists(os.path.join(out_dir, "orders.parquet"))
        and os.path.exists(os.path.join(out_dir, "lineitem.parquet"))
    ):
        return
    rep = spark.range(replicas).select(F.col("id").alias("replica"))
    o = load_table(spark, SF_SRC, "orders")
    li = load_table(spark, SF_SRC, "lineitem")
    mo = o.agg(F.max("o_orderkey")).first()[0] + 1
    mc = o.agg(F.max("o_custkey")).first()[0] + 1
    ms = li.agg(F.max("l_suppkey")).first()[0] + 1
    (
        o.crossJoin(rep)
        .select(
            (F.col("o_orderkey") + F.col("replica") * F.lit(mo)).alias("o_orderkey"),
            (F.col("o_custkey") + F.col("replica") * F.lit(mc)).alias("o_custkey"),
            *[c for c in o.columns if c not in ("o_orderkey", "o_custkey")],
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "orders.parquet"))
    )
    (
        li.crossJoin(rep)
        .select(
            (F.col("l_orderkey") + F.col("replica") * F.lit(mo)).alias("l_orderkey"),
            (F.col("l_suppkey") + F.col("replica") * F.lit(ms)).alias("l_suppkey"),
            *[c for c in li.columns if c not in ("l_orderkey", "l_suppkey")],
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "lineitem.parquet"))
    )


def _build_star(spark, out_dir: str, replicas: int, rebuild: bool = False) -> None:
    """Full-star replication for ``--all`` (VERDICT r9 task 4): every
    relational table as ``replicas`` DISJOINT key-offset copies so the
    whole registry — q*/j*/w*/e*/a*, not just the document families —
    has an honest linear-scale corpus. Offsets come from the DIMENSION
    key domains (max(c_custkey)+1, not max(o_custkey)+1: customers
    without orders would otherwise misalign the FK shift between the
    two sides), the same offset is applied on both sides of every FK,
    and region/nation copy verbatim (customer/supplier nationkeys stay
    valid). Supersedes _build_rel's orders/lineitem in the same dirs —
    identical disjoint-copy structure, so g* timings stay comparable."""
    marker = os.path.join(out_dir, "_STAR_OK")
    if not rebuild and os.path.exists(marker):
        return
    rep = spark.range(replicas).select(F.col("id").alias("replica"))

    def offs(df, col):
        return df.agg(F.max(col)).first()[0] + 1

    c = load_table(spark, SF_SRC, "customer")
    s = load_table(spark, SF_SRC, "supplier")
    p = load_table(spark, SF_SRC, "part")
    o = load_table(spark, SF_SRC, "orders")
    li = load_table(spark, SF_SRC, "lineitem")
    ev = load_table(spark, SF_SRC, "events")
    mc, ms, mp = offs(c, "c_custkey"), offs(s, "s_suppkey"), offs(p, "p_partkey")
    mo, mu, me = offs(o, "o_orderkey"), offs(ev, "user_id"), offs(ev, "event_id")

    def write(df, shifted: dict[str, int], name: str) -> None:
        (
            df.crossJoin(rep)
            .select(
                *[
                    (F.col(col) + F.col("replica") * F.lit(shifted[col])).alias(col)
                    if col in shifted
                    else F.col(col)
                    for col in df.columns
                ]
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"{name}.parquet"))
        )

    write(c, {"c_custkey": mc}, "customer")
    write(s, {"s_suppkey": ms}, "supplier")
    write(p, {"p_partkey": mp}, "part")
    write(o, {"o_orderkey": mo, "o_custkey": mc}, "orders")
    write(
        li,
        {"l_orderkey": mo, "l_partkey": mp, "l_suppkey": ms},
        "lineitem",
    )
    write(ev, {"event_id": me, "user_id": mu}, "events")
    for t in ("region", "nation"):  # tiny dims: copy verbatim
        load_table(spark, SF_SRC, t).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
    with open(marker, "w") as f:
        f.write(f"replicas={replicas}\n")


def time_warm(spark, name: str, sf_dir: str) -> float:
    fn = get_registry()[name].spark_fn
    best = float("inf")
    for _ in range(2):
        # same isolation as bench.py: pins left by earlier operators
        # evict under pressure and inflate later measurements
        release_shared_pins()
        t0 = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    return round(best, 2)


# Streaming twins: the stateful always-on operators whose batch siblings
# are measured above. Each drains the corpus as a 4-micro-batch
# availableNow run (maxFilesPerTrigger=8 over the 32-file layout — same
# batch COUNT at both scales, 10x the data per batch, so the ratio
# isolates data volume, not trigger overhead) with fresh state dirs per
# run. Bounds under test: bloom's fixed 8 KiB bitmap + hash-store verify,
# neardup's per-bucket canonical state, prep's chained dedup+LSH state.
STREAMING_TWINS = [
    "stream_bloom_dedup",
    "stream_neardup",
    "stream_prep_intake",
    # r8: the PSI drift monitor — per-batch work is spine-sized, so its
    # ratio should track scan cost only
    "stream_psi_drift",
]


def _docs_stream(spark, sf_dir: str, mfpt: int = 8):
    d = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(d).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", mfpt)
        .parquet(d)
    )


def _psi_ref_build(spark, sf_dir: str, work: str) -> str:
    """Untimed: capture the reference profile (binned on n_chars — the
    drift-relevant numeric the documents table has)."""
    from pyspark.sql import functions as F

    from kinesis_spark.streaming.drift import write_psi_reference

    ref_path = os.path.join(work, "ref")
    write_psi_reference(
        load_table(spark, sf_dir, "documents").select(
            F.col("n_chars").cast("double").alias("v")
        ),
        "v",
        ref_path,
    )
    return ref_path


def _psi_drift_twin(spark, sf_dir: str, work: str, ref_path: str):
    from pyspark.sql import functions as F

    from kinesis_spark.streaming.drift import start_psi_drift_query

    docs = _docs_stream(spark, sf_dir).select(
        F.col("n_chars").cast("double").alias("v")
    )
    return start_psi_drift_query(
        docs,
        ref_path,
        "v",
        os.path.join(work, "state"),
        os.path.join(work, "out"),
        os.path.join(work, "ckpt"),
        trigger_available_now=True,
    )


def time_streaming_twin(spark, name: str, sf_dir: str) -> float:
    import shutil
    import tempfile

    best = float("inf")
    for _ in range(2):
        work = tempfile.mkdtemp(prefix=f"scale-{name}-")
        try:
            docs = _docs_stream(spark, sf_dir)
            if name == "stream_psi_drift":
                ref_path = _psi_ref_build(spark, sf_dir, work)  # untimed
            t0 = time.monotonic()
            if name == "stream_psi_drift":
                q = _psi_drift_twin(spark, sf_dir, work, ref_path)
            elif name == "stream_bloom_dedup":
                from kinesis_spark.streaming.bloom_dedup import start_bloom_dedup

                q = start_bloom_dedup(
                    spark,
                    docs,
                    os.path.join(work, "state"),
                    os.path.join(work, "out"),
                    os.path.join(work, "ckpt"),
                    trigger_available_now=True,
                )
            else:
                if name == "stream_neardup":
                    from kinesis_spark.streaming.neardup import (
                        streaming_near_dup_candidates,
                    )

                    out = streaming_near_dup_candidates(docs)
                else:
                    from kinesis_spark.streaming.prep import near_dup_flags_stream

                    out = near_dup_flags_stream(docs)
                q = (
                    out.writeStream.format("noop")
                    .outputMode("update")
                    .option("checkpointLocation", os.path.join(work, "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                )
            finished = q.awaitTermination(600)
            if not finished:
                # loud, never silent: a timed-out drain is not a
                # measurement, and rmtree'ing a LIVE query's checkpoint
                # corrupts every later run
                q.stop()
                raise RuntimeError(f"{name} drain exceeded 600s at {sf_dir}")
            best = min(best, time.monotonic() - t0)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return round(best, 2)


def time_tx_faces(spark, sf_dir: str) -> dict[str, float]:
    """The transactional store's maintenance faces at scale (r7, VERDICT
    r6 task 3): build a month-partitioned store from the scaled orders
    (untimed), then time one append (1% of rows), the CDC diff of that
    append, a targeted compaction of the fragmented partitions, and a
    zero-copy restore. Structural bounds under test: tx_diff must scan
    ONLY the appended generation (append-sized, ~linear in the append);
    tx_compact_partitions rewrites only touched partitions (linear in
    partition bytes); tx_restore is manifest-only (≈ constant — THE
    headline: rolling back a 100 TB table costs no data movement)."""
    import shutil
    import tempfile

    from kinesis_spark.txstore import (
        tx_compact_partitions,
        tx_current_manifest,
        tx_diff,
        tx_init,
        tx_publish,
        tx_read,
        tx_restore,
    )

    work = tempfile.mkdtemp(prefix="scale-tx-")
    out: dict[str, float] = {}
    try:
        root = os.path.join(work, "orders_tx")
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_totalprice",
            "o_orderstatus",
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        tx_init(spark, root, o, partition_col="month")
        v1 = tx_current_manifest(spark, root)["version"]
        extra = o.filter(F.col("o_orderkey") % 100 == 0).withColumn(
            "o_orderkey", -F.col("o_orderkey") - 1
        )

        t0 = time.monotonic()
        tx_publish(spark, root, extra, append=True)
        out["tx_append"] = round(time.monotonic() - t0, 2)
        v2 = tx_current_manifest(spark, root)["version"]

        t0 = time.monotonic()
        tx_diff(spark, root, v1, v2).write.format("noop").mode(
            "overwrite"
        ).save()
        out["tx_diff"] = round(time.monotonic() - t0, 2)

        t0 = time.monotonic()
        tx_compact_partitions(spark, root, min_generations=2)
        out["tx_compact_partitions"] = round(time.monotonic() - t0, 2)

        t0 = time.monotonic()
        tx_restore(spark, root, v1)
        out["tx_restore"] = round(time.monotonic() - t0, 2)
        # the restore really is metadata-only: content equals v1 without
        # any data rewrite (count is cheap and keeps the harness honest)
        assert tx_read(spark, root).count() == o.count()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> None:
    spark = get_spark("kinesis_spark-scale-stress")
    spark.sparkContext.setLogLevel("ERROR")
    def _complete(d: str) -> bool:
        # a crash between the two table writes must trigger a rebuild,
        # not wedge every later run on the missing half
        return all(
            os.path.isdir(os.path.join(d, t)) for t in ("documents.parquet", "embeddings.parquet")
        ) or all(
            os.path.exists(os.path.join(d, t)) for t in ("documents.parquet", "embeddings.parquet")
        )

    if "--rebuild" in sys.argv or not _complete(SF1X):
        _build(spark, SF1X, 1)
    if "--rebuild" in sys.argv or not _complete(SF10X):
        _build(spark, SF10X, REPLICAS)
    run_all = "--all" in sys.argv  # VERDICT r9 task 4: the whole registry
    if run_all:
        _build_star(spark, SF1X, 1, rebuild="--rebuild" in sys.argv)
        _build_star(spark, SF10X, REPLICAS, rebuild="--rebuild" in sys.argv)
    else:
        _build_rel(spark, SF1X, 1, rebuild="--rebuild" in sys.argv)
        _build_rel(spark, SF10X, REPLICAS, rebuild="--rebuild" in sys.argv)
    for d in (SF1X, SF10X):  # warm footers
        load_table(spark, d, "documents").count()
        load_table(spark, d, "embeddings").count()
    only: set[str] | None = None
    if "--only" in sys.argv:  # quick iteration: comma-separated names
        i = sys.argv.index("--only") + 1
        if i >= len(sys.argv):
            raise SystemExit("usage: scale_stress.py --only name1,name2[,tx]")
        only = set(sys.argv[i].split(","))
    out = {}
    # --all: every registered query, name-sorted (bench.py's canonical
    # order) — the registry-wide scale table SCALE_FULL.md is built from
    # this run. The curated OPERATORS list remains the per-round default.
    op_list = sorted(get_registry()) if run_all else OPERATORS
    for name in op_list:
        if only is not None and name not in only:
            continue
        x1 = time_warm(spark, name, SF1X)
        x10 = time_warm(spark, name, SF10X)
        out[name] = {"x1": x1, "xN": x10, "ratio": round(x10 / max(x1, 1e-9), 1)}
        print(f"# {name}: {x1}s -> {x10}s ({out[name]['ratio']}x)", file=sys.stderr)
    for name in STREAMING_TWINS:
        if only is not None and name not in only:
            continue
        x1 = time_streaming_twin(spark, name, SF1X)
        x10 = time_streaming_twin(spark, name, SF10X)
        out[name] = {"x1": x1, "xN": x10, "ratio": round(x10 / max(x1, 1e-9), 1)}
        print(f"# {name}: {x1}s -> {x10}s ({out[name]['ratio']}x)", file=sys.stderr)
    if only is not None and not {"tx_append", "tx_diff", "tx_restore",
                                 "tx_compact_partitions", "tx"} & only:
        print(json.dumps({"replicas": REPLICAS, "queries": out}))
        spark.stop()
        return
    tx1 = time_tx_faces(spark, SF1X)
    tx10 = time_tx_faces(spark, SF10X)
    for name in tx1:
        out[name] = {
            "x1": tx1[name],
            "xN": tx10[name],
            "ratio": round(tx10[name] / max(tx1[name], 1e-9), 1),
        }
        print(
            f"# {name}: {tx1[name]}s -> {tx10[name]}s ({out[name]['ratio']}x)",
            file=sys.stderr,
        )
    print(json.dumps({"replicas": REPLICAS, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
