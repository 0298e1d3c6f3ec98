"""Persisted incremental-prep index — the 100 TB face of
``p3_incremental_prep`` (queries/pipelines.py).

p3 derives its three corpus-side artifacts IN-QUERY (bloom bitmap,
exact-hash store, MinHash band index), which costs three scans of the
corpus per batch — honest at bench scale, wrong at 100 TB where the
corpus is the big side and batches arrive continuously. This module
persists exactly those artifacts once and lets every subsequent batch
admission read ONLY them:

    <index_dir>/hashes/   distinct sha256(text) of admitted corpus docs
                          (the exact-confirm relation; the truth)
    <index_dir>/bloom/    ONE row: the dense bitmap over those hashes
                          (derived from the hash store — rebuildable)
    <index_dir>/bands/    distinct MinHash band keys of the corpus
                          (the near-dup LSH index)

``incremental_prep_indexed`` then produces the SAME per-(lang, source)
admission report as p3 — tests assert row-for-row equality on the same
corpus/batch split, and plan-assert that the probe's input files are
the batch + the index only, zero corpus scans.

Scale shape of the probe: the bloom is one broadcast row (8 KiB);
bloom-positive hashes exact-confirm via a batch-scale broadcast
semi-join against the hash store (the store is scanned pruned to its
single column, never shuffled, never broadcast); the band index
equi-joins the batch's band keys. Nothing scales with the corpus
except the two index-relation scans, which are hash/key-sized, not
document-sized.

Maintenance: the always-on writer for these artifacts is
``streaming/bloom_dedup.py`` (bitmap bit_or-merge + per-batch hash
subdirs); ``build_prep_index`` here is the batch bootstrap/rebuild.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_spark.bloom import build_bloom, densify_bloom, probe_bloom_dense
from kinesis_spark.minhash import band_key_array, signatures
from kinesis_spark.pins import pin_shared, scope


def _gated(d: DataFrame) -> DataFrame:
    from kinesis_spark.queries.pipelines import _gated_base

    return _gated_base(d)


def build_prep_index(spark: SparkSession, corpus_docs: DataFrame, index_dir: str) -> dict:
    """Bootstrap the persisted index from a corpus ``documents``-shaped
    relation (applies the same language/length gate as p1/p3). Two
    corpus scans total — one for the hash store, one for the band
    index; the bitmap derives from the PERSISTED hash store so a lost
    bitmap rebuilds without touching the corpus at all. Returns
    artifact row counts (driver-side, three bounded counts)."""
    base = _gated(corpus_docs)
    hash_dir = os.path.join(index_dir, "hashes")
    bloom_dir = os.path.join(index_dir, "bloom")
    band_dir = os.path.join(index_dir, "bands")
    base.select(F.sha2("text", 256).alias("h")).distinct().write.mode(
        "overwrite"
    ).parquet(hash_dir)
    hashes = spark.read.parquet(hash_dir)
    densify_bloom(build_bloom(hashes, "h")).write.mode("overwrite").parquet(bloom_dir)
    bands = signatures(base).select(F.explode(band_key_array()).alias("band_key"))
    bands.distinct().write.mode("overwrite").parquet(band_dir)
    return {
        "hashes": spark.read.parquet(hash_dir).count(),
        "bloom_words": spark.read.parquet(bloom_dir).count(),
        "bands": spark.read.parquet(band_dir).count(),
    }


def incremental_prep_indexed(
    spark: SparkSession, batch_docs: DataFrame, index_dir: str
) -> DataFrame:
    """Admission report for a new crawl batch against the PERSISTED
    index — p3's exact semantics (within-batch min-id exact dedup,
    bloom+confirm exact dedup vs corpus, conservative shared-band
    near-dup drop, per (lang, source) exact BIGINT report) with zero
    corpus scans: the only inputs are ``batch_docs`` and the three
    index relations. Column-for-column equal to p3's report when the
    index was built from p3's corpus split (tested).

    Pin lifecycle (ADVICE r11): each call registers ONE batch-scale
    persist (the ``flagged`` relation) in the session-global pin
    registry; callers looping over crawl batches must drain it between
    batches via ``kinesis_spark.pins.release_shared_pins()`` once the
    returned report is materialized — otherwise one cached batch-scale
    relation accumulates per call and competes with shuffle memory.
    (bench.py, the verify sweeps and the driver adapter already drain;
    this is the obligation on an external long-lived driver.)"""
    base = _gated(batch_docs)
    wh = Window.partitionBy("h").orderBy("doc_id")
    bh = base.select(
        "doc_id", "lang", "source", "toks",
        F.size("toks").cast("bigint").alias("n_toks"),
        F.sha2("text", 256).alias("h"),
    ).withColumn("rn", F.row_number().over(wh))

    dense = spark.read.parquet(os.path.join(index_dir, "bloom"))
    hashes = spark.read.parquet(os.path.join(index_dir, "hashes"))
    probed = probe_bloom_dense(bh, dense, "h")
    cand_keys = probed.filter(F.col("maybe_member")).select("h").distinct()
    # .distinct(): the hash store may legitimately hold duplicate hashes
    # (intake.py's crash-redo path re-appends admitted hashes — "index
    # appends are harmless to repeat"); without it the left join below
    # fans out and double-counts docs. Bounded by the batch candidate set.
    confirmed = (
        hashes.join(F.broadcast(cand_keys), "h", "left_semi")
        .select("h")
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    # `flagged` is consumed three times (near-dup probe, report join,
    # rollup) and its subtree replays the batch gate + hash window +
    # bloom probe + index reads per consumer (the unpinned plan held 11
    # scans, plans/r11/p7_incremental_prep_indexed_before.txt). Pin the
    # BATCH-SCALE flag relation — same discipline as p3 (OPTIMIZATION
    # r11 §3); the index relations are never pinned.
    flagged = pin_shared(
        probed.join(F.broadcast(confirmed), "h", "left").select(
            "doc_id", "lang", "source", "toks", "n_toks",
            ((F.col("rn") > 1) | F.coalesce("in_corpus", F.lit(False))).alias(
                "exact_dup"
            ),
        )
    )

    rem = flagged.filter(~F.col("exact_dup"))
    cband_keys = spark.read.parquet(os.path.join(index_dir, "bands"))
    near = (
        signatures(rem)
        .select("doc_id", F.explode(band_key_array()).alias("band_key"))
        .join(cband_keys, "band_key", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    report = flagged.join(near, "doc_id", "left").select(
        "lang", "source", "n_toks", "exact_dup",
        (~F.col("exact_dup") & F.coalesce("near_dup", F.lit(False))).alias("nd"),
        (~F.col("exact_dup") & ~F.coalesce("near_dup", F.lit(False))).alias("ok"),
    )
    return report.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(F.col("exact_dup").cast("int")).cast("bigint").alias("n_exact_dup"),
        F.sum(F.col("nd").cast("int")).cast("bigint").alias("n_near_dup"),
        F.sum(F.col("ok").cast("int")).cast("bigint").alias("n_admitted"),
        F.sum(F.when(F.col("ok"), F.col("n_toks")).otherwise(0))
        .cast("bigint")
        .alias("admitted_tokens"),
    )


def ensure_local_index(sf_dir: str, prefix: str, build_fn) -> str:
    """Bootstrap-once helper for tmp-dir persisted indexes keyed by the
    documents table's (path, mtime): returns the index dir, calling
    ``build_fn(scratch_dir)`` at most once per key with the atomic-
    rename dance (two concurrent first callers never overwrite each
    other's half-built index; the rename loser discards its build and
    uses the winner's). Shared by p7 (prep index) and p9 (gram index)."""
    import hashlib
    import shutil
    import tempfile
    import uuid

    docs_path = os.path.join(sf_dir, "documents.parquet")
    key = hashlib.md5(
        f"{os.path.realpath(docs_path)}:{os.path.getmtime(docs_path)}".encode()
    ).hexdigest()[:16]
    idx = os.path.join(tempfile.gettempdir(), f"{prefix}-{key}")
    marker = os.path.join(idx, "_COMPLETE")
    if not os.path.exists(marker):
        scratch = f"{idx}.build-{uuid.uuid4().hex[:8]}"
        build_fn(scratch)
        with open(os.path.join(scratch, "_COMPLETE"), "w") as f:
            f.write(key)
        if os.path.isdir(idx) and not os.path.exists(marker):
            # crash leftover: an earlier build died before its rename.
            # Rename it ASIDE (atomic, one winner) instead of rmtree — a
            # stale isdir/marker check must never delete an index
            # another process just completed
            try:
                os.rename(idx, f"{idx}.stale-{uuid.uuid4().hex[:8]}")
            except OSError:
                pass  # someone else already moved or replaced it
        try:
            os.rename(scratch, idx)
        except OSError:
            shutil.rmtree(scratch, ignore_errors=True)  # lost the race
    return idx


def build_gram_index(spark: SparkSession, corpus_docs: DataFrame, index_dir: str) -> dict:
    """Bootstrap the substring-dedup gram index: the DISTINCT 8-byte
    hashes of every EX_WINDOW-token window in the corpus, persisted at
    ``<index_dir>/grams/``. One corpus scan; the relation is
    hash-sized (8 B per distinct window), never document-sized. The
    incremental maintainer is the same append discipline as the hash
    store (re-appending a batch's grams after a crash is harmless —
    probes .distinct() the matched keys)."""
    from kinesis_spark.queries.dedup import positional_tokens, window_hashes

    grams = window_hashes(positional_tokens(corpus_docs)).select("h").distinct()
    gram_dir = os.path.join(index_dir, "grams")
    grams.write.mode("overwrite").parquet(gram_dir)
    return {"grams": spark.read.parquet(gram_dir).count()}


def incremental_span_excision(
    spark: SparkSession, batch_docs: DataFrame, index_dir: str
) -> DataFrame:
    """d18's span excision, the incremental/production way: a new batch
    lands against the PERSISTED corpus gram index — a batch window is
    cut when its gram already exists in the corpus (the corpus holds
    the canonical copy) OR repeats within the batch (first batch
    occurrence kept); the cleaned batch documents are rebuilt and
    reported exactly like d18 (clean_md5 pins the bytes).

    Scale shape: zero corpus scans — inputs are the batch and the gram
    relation. The gram store is scanned pruned to its single column and
    confirmed via a batch-scale broadcast semi-join (the p7/bloom-
    confirm discipline: the corpus-sized side is never shuffled, never
    broadcast); the matched-key relation is bounded by the batch's
    distinct gram count, so the flag join broadcasts. At 100 TB the
    gram store would also be bucketed by h so the confirm scan prunes
    files, same as the ANN cells layout."""
    from kinesis_spark.queries.dedup import (
        excision_report,
        positional_tokens,
        window_hashes,
    )

    toks = pin_shared(positional_tokens(batch_docs))
    occs = window_hashes(toks)
    grams = spark.read.parquet(os.path.join(index_dir, "grams"))
    batch_keys = occs.select("h").distinct()
    # .distinct(): crash-redo appends may duplicate stored grams (see
    # incremental_prep_indexed's identical confirm step)
    matched = (
        grams.join(F.broadcast(batch_keys), "h", "left_semi")
        .select("h")
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    who = Window.partitionBy("h").orderBy("doc_id", "pos")
    flags = (
        occs.withColumn("rn", F.row_number().over(who))
        .join(F.broadcast(matched), "h", "left")
        .filter((F.col("rn") > 1) | F.col("in_corpus").isNotNull())
        .select("doc_id", F.col("pos").alias("tpos"), F.lit(1).alias("flag"))
    )
    return excision_report(toks, flags)


def append_gram_index(spark: SparkSession, batch_docs: DataFrame, index_dir: str) -> int:
    """The gram index's incremental maintainer: after a batch is
    admitted, append ITS window-gram hashes so the next batch's
    excision sees them as corpus-owned (the hash-store append
    discipline: a crash between excision and append just re-appends on
    redo — probes ``.distinct()`` the matched keys, so duplicates are
    harmless). Appends only hashes NOT already present (a batch-scale
    broadcast semi-join against the store, same confirm shape as the
    probe — the store is never shuffled). Returns the number of new
    gram hashes appended."""
    from kinesis_spark.queries.dedup import positional_tokens, window_hashes

    batch = window_hashes(positional_tokens(batch_docs)).select("h").distinct()
    return _append_new_keys(spark, batch, os.path.join(index_dir, "grams"), "h")


def new_keys(batch_keys: DataFrame, store: DataFrame, key: str) -> DataFrame:
    """The distinct ``key`` values of ``batch_keys`` (one column,
    distinct) that ``store`` does not hold yet. Orientation: the batch
    (small) is the left side and reaches the store as a broadcast, so
    the corpus-sized store is scanned once, pruned to one column, never
    shuffled."""
    matched = (
        store.join(F.broadcast(batch_keys), key, "left_semi").select(key).distinct()
    )
    return batch_keys.join(F.broadcast(matched), key, "left_anti")


@scope()
def _append_new_keys(
    spark: SparkSession, batch_keys: DataFrame, path: str, key: str
) -> int:
    """Append :func:`new_keys` of ``batch_keys`` to the store at
    ``path``; returns how many. Pinned: count + write are two consumers;
    without it each re-scans the store and re-derives the batch."""
    fresh = pin_shared(new_keys(batch_keys, spark.read.parquet(path), key))
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(path)
    return n


def build_chunk_index(
    spark: SparkSession, corpus_docs: DataFrame, index_dir: str
) -> dict:
    """Bootstrap the chunk-dedup index: the DISTINCT md5 content hashes
    of every t20 chunk window in the corpus, persisted at
    ``<index_dir>/chunks/``. One corpus scan through the map-only
    chunk schedule (``text=False`` — chunk bodies never materialize
    past the hash expression, d22's discipline); the stored relation is
    16 B per distinct chunk, never document-sized. Incremental
    maintenance follows the gram-store append discipline
    (:func:`append_chunk_index`)."""
    from kinesis_spark.queries.textstats import chunk_relation

    chunks = (
        chunk_relation(corpus_docs.select("doc_id", "text"), text=False)
        .select("chunk_hash")
        .distinct()
    )
    chunk_dir = os.path.join(index_dir, "chunks")
    chunks.write.mode("overwrite").parquet(chunk_dir)
    return {"chunks": spark.read.parquet(chunk_dir).count()}


def chunk_dedup_rewrite(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_dir: str | None = None,
    store: DataFrame | None = None,
) -> DataFrame:
    """d22's chunk-granularity dedup EXECUTED, the incremental way
    (VERDICT r10 "what's missing" 3): a new batch lands against the
    persisted corpus chunk index; a batch chunk is DROPPED when its
    hash already exists in the corpus (the corpus holds the canonical
    copy) or repeats within the batch (first occurrence by
    (doc_id, chunk_idx) kept — p9's rule at chunk granularity); each
    batch document is rebuilt as its surviving chunk stream, byte-
    pinned by ``clean_md5`` = md5 of the kept chunk bodies joined by
    newline in chunk order (d18's clean_md5 discipline — training
    chunks are standalone sequences, so the 16-token overlap tokens a
    kept chunk shares with a dropped neighbor stay inside the kept
    chunk).

    Scale shape — STRICTER than p9's: chunk BODIES never cross any
    exchange. The dup decision runs on the ``text=False`` chunk
    relation (hash + ids + token count — the only hash-keyed shuffle
    is 16 B rows), per-doc drop lists come back as a narrow
    aggregation, and the rebuild joins those drop lists to the batch
    DOCUMENTS and re-derives kept chunk bodies inside a map-side
    projection (all chunks of a doc are generated from its own row, so
    no body-bearing relation is ever exchange-partitioned; asserted in
    tests/test_chunk_rewrite.py). Zero corpus scans on the recurring
    path: inputs are the batch and the chunk store, the store scanned
    pruned to its single column and confirmed via the batch-scale
    broadcast semi-join (p7's confirm shape). At 100 TB the drop-list
    join stops broadcasting and both sides bucket by doc_id instead —
    the narrow side is batch-linear either way."""
    from kinesis_spark.queries.textstats import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        chunk_relation,
    )
    from kinesis_spark.queries import WS_RE

    # pinned: the batch slice feeds THREE consumers (batch hash keys,
    # the flagged chunk relation, the map-side rebuild) — without the
    # pin each lineage branch re-scans documents (p9 pins its batch
    # tokens for the same reason)
    b = pin_shared(batch_docs.select("doc_id", "text"))
    narrow = chunk_relation(b, text=False)
    # ``store`` injection (streaming/chunk_dedup.py): the always-on
    # maintainer excludes a replayed batch's OWN per-batch subdirectory
    # before handing the store over — same probe shape either way
    if store is None:
        store = spark.read.parquet(os.path.join(index_dir, "chunks"))
    store = store.select("chunk_hash")
    batch_keys = narrow.select("chunk_hash").distinct()
    # .distinct(): append_chunk_index's crash-redo may duplicate stored
    # hashes (same confirm shape as the gram/hash stores)
    matched = (
        store.join(F.broadcast(batch_keys), "chunk_hash", "left_semi")
        .select("chunk_hash")
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    wh = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    flags = (
        narrow.withColumn("rn", F.row_number().over(wh))
        .join(F.broadcast(matched), "chunk_hash", "left")
        .withColumn(
            "dup", (F.col("rn") > 1) | F.col("in_corpus").isNotNull()
        )
    )
    dup_toks = F.when(F.col("dup"), F.col("n_chunk_tokens")).otherwise(
        F.lit(0)
    )
    per_doc = flags.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(F.col("dup").cast("int")).cast("bigint").alias("n_dropped"),
        F.sum("n_chunk_tokens").cast("bigint").alias("tokens_total"),
        F.sum(dup_toks).cast("bigint").alias("tokens_dropped"),
        F.array_sort(
            F.collect_list(F.when(F.col("dup"), F.col("chunk_idx")))
        ).alias("dropped_idx"),
    )
    # rebuild map-side: re-derive each doc's kept chunk bodies from its
    # own text; the only body-bearing operator chain is scan -> project
    toks = F.split("text", WS_RE)
    n = F.size(toks).cast("bigint")
    n_chunks = F.lit(1) + F.greatest(
        F.lit(0).cast("bigint"),
        F.floor(
            (n - F.lit(CHUNK_TOKENS) + F.lit(CHUNK_STRIDE - 1))
            / F.lit(CHUNK_STRIDE)
        ).cast("bigint"),
    )
    kept_idx = F.filter(
        F.sequence(F.lit(0).cast("bigint"), n_chunks - 1),
        lambda i: ~F.exists("dropped_idx", lambda j: j == i),
    )
    clean = F.array_join(
        F.transform(
            kept_idx,
            lambda i: F.array_join(
                F.slice(
                    toks, (i * CHUNK_STRIDE + 1).cast("int"), CHUNK_TOKENS
                ),
                " ",
            ),
        ),
        "\n",
    )
    return b.join(F.broadcast(per_doc), "doc_id").select(
        "doc_id",
        "n_chunks",
        "n_dropped",
        "tokens_total",
        "tokens_dropped",
        F.md5(clean).alias("clean_md5"),
    )


def append_chunk_index(
    spark: SparkSession, batch_docs: DataFrame, index_dir: str
) -> int:
    """Chunk-store incremental maintainer — append the admitted batch's
    NEW distinct chunk hashes (identical discipline and join
    orientation as :func:`append_gram_index`; crash-redo appends are
    harmless because probes ``.distinct()`` the matched keys)."""
    from kinesis_spark.queries.textstats import chunk_relation

    batch = (
        chunk_relation(batch_docs.select("doc_id", "text"), text=False)
        .select("chunk_hash")
        .distinct()
    )
    return _append_new_keys(
        spark, batch, os.path.join(index_dir, "chunks"), "chunk_hash"
    )
