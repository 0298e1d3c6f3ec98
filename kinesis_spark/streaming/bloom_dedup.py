"""Streaming incremental exact dedup through a DURABLE bloom index —
the always-on twin of ``d15_bloom_incremental_dedup`` / ``bloom_dedup_batch``
(kinesis_spark/bloom.py).

``streaming/prep.py`` already dedups across micro-batches with streaming
``dropDuplicates`` — state lives in the query's state store, scoped to
one query and one checkpoint. This module keeps the dedup state OUTSIDE
the query, as two parquet relations that survive restarts and that any
number of READERS (batch backfills, audits) can consult; WRITES are
single-writer by contract — one foreachBatch query owns a state_dir at
a time (Structured Streaming serializes its batches; two concurrent
writer jobs would race the bitmap swap):

- ``<state_dir>/bloom``  — the (word, bits) bitmap relation, ≤ m_bits/64
  rows (8 KiB at the default size). Merging a batch's bitmap is
  ``bit_or`` per word — commutative/associative, so the index never has
  to be rebuilt from history (and when it IS lost, it rebuilds from the
  hash store in one scan: the bitmap is derived state, never the truth).
- ``<state_dir>/hashes`` — the admitted content hashes, one subdirectory
  per committed batch (``ingest_batch=<token>-<id>``). Read ONLY to
  verify bloom-positives, with the candidate set broadcast (batch-scale)
  against it — never shuffled, never broadcast itself.

Per micro-batch cost is therefore: one narrow pass over the batch
(row-local dense-bitmap probes), plus a hash-store scan proportional to
the store (pruned to the single hash column) ONLY when the bloom says
some candidate might be a dup. At 100 TB of corpus the bitmap stays
8 KiB (the fpp rises — size m_bits for the corpus, the module parameter
exists for exactly that) and the per-batch work stays batch-scale.

Exactly-once protocol (foreachBatch replays a batch after failure):

1. Admitted rows and their hashes are written with OVERWRITE into a
   per-batch subdirectory keyed by (run token, batch id) — a replay
   rewrites the same files instead of appending duplicates.
2. The verify anti-join excludes the batch's OWN hash subdirectory, so
   a replay whose first attempt died mid-write recomputes the identical
   admitted set (its own partial hashes can't mask its rows as dups).
3. The bitmap merge is idempotent (``bit_or`` of already-set bits) and
   the bitmap itself is conservative: a crash that leaves it "ahead"
   only routes rows through the exact verify, never drops them; a crash
   that loses it triggers a rebuild from the hash store.
4. The batch is marked committed last; a redelivered committed batch is
   skipped, and a NEW query's batch 0 is new data (streaming/batches.py).

The per-batch subdirectories surface as an ``ingest_batch`` string
column when reading ``out_dir`` — admission provenance for free (the
prov-family discipline).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_spark.bloom import (
    DEFAULT_K,
    DEFAULT_M_BITS,
    build_bloom,
    densify_bloom,
    probe_bloom_dense,
)
from kinesis_spark.pins import pin, scope
from kinesis_spark.streaming import batches


class BloomDedupSink:
    """foreachBatch sink: admit only rows whose ``sha2(text_col, 256)``
    has never been admitted before (across ALL batches and restarts);
    write admitted rows to ``out_dir`` and fold their hashes into the
    durable bloom index."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        out_dir: str,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        m_bits: int = DEFAULT_M_BITS,
        k: int = DEFAULT_K,
        run_token: str | None = None,
        checkpoint_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.out_dir = out_dir
        self.text_col = text_col
        self.id_col = id_col
        self.m_bits = m_bits
        self.k = k
        self.run_token = run_token or batches.run_token(checkpoint_dir)

    # -- state ------------------------------------------------------------
    @property
    def _bloom_dir(self) -> str:
        return os.path.join(self.state_dir, "bloom")

    @property
    def _hash_dir(self) -> str:
        return os.path.join(self.state_dir, "hashes")

    def _load_hashes(self) -> DataFrame | None:
        if not os.path.isdir(self._hash_dir):
            return None
        return self.spark.read.parquet(self._hash_dir)

    def _load_bloom(self) -> DataFrame | None:
        if os.path.isdir(self._bloom_dir):
            return self.spark.read.parquet(self._bloom_dir)
        # bitmap lost (e.g. crash between the swap renames): rebuild from
        # the hash store — the bitmap is derived state, the store is truth
        store = self._load_hashes()
        if store is None:
            return None
        return build_bloom(store, "h", self.m_bits, self.k)

    # -- the batch hook ---------------------------------------------------
    @scope()
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        token = self.run_token
        if batches.skip_if_committed(batch, self.state_dir, token, batch_id):
            return
        key = f"{token}-{batch_id}"
        hashed = batch.withColumn("h", F.sha2(self.text_col, 256))
        # within-batch winner per hash: smallest id (the d1 discipline)
        w = Window.partitionBy("h").orderBy(self.id_col)
        hashed = (
            hashed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

        store = self._load_hashes()
        if store is not None:
            # exclude this batch's OWN subdirectory: a replayed batch
            # must not see its first attempt's partial hashes as "already
            # admitted" (partition pruning skips the dir entirely)
            store = store.filter(F.col("ingest_batch") != key).select("h")
        bloom = self._load_bloom()
        if bloom is None:
            admitted = hashed
        else:
            dense = densify_bloom(bloom, self.m_bits)
            probed = probe_bloom_dense(hashed, dense, "h", self.m_bits, self.k)
            clean = probed.filter(~F.col("maybe_member")).drop("maybe_member")
            cand = probed.filter(F.col("maybe_member")).drop("maybe_member")
            if store is None:
                admitted = clean.unionByName(cand)
            else:
                # verify bloom-positives exactly, the bloom_dedup_batch
                # shape (bloom.py): the BATCH-scale candidate key set
                # broadcasts against the store (which is scanned, never
                # shuffled, never broadcast), then candidates anti-join
                # the confirmed keys
                cand_keys = cand.select("h").distinct()
                confirmed = store.join(
                    F.broadcast(cand_keys), "h", "left_semi"
                ).distinct()
                fresh = cand.join(F.broadcast(confirmed), "h", "left_anti")
                admitted = clean.unionByName(fresh)

        # materialize once: admitted feeds three writes below
        admitted = admitted.transform(pin)
        out_sub = os.path.join(self.out_dir, f"ingest_batch={key}")
        hash_sub = os.path.join(self._hash_dir, f"ingest_batch={key}")
        if admitted.isEmpty():
            # clear any partial first attempt, then commit the no-op
            shutil.rmtree(out_sub, ignore_errors=True)
            shutil.rmtree(hash_sub, ignore_errors=True)
            batches.mark_committed(self.state_dir, token, batch_id)
            return

        # per-batch OVERWRITE: a replay rewrites, never duplicates
        admitted.drop("h").write.mode("overwrite").parquet(out_sub)
        admitted.select("h").write.mode("overwrite").parquet(hash_sub)

        batch_bloom = build_bloom(admitted, "h", self.m_bits, self.k)
        merged = batch_bloom if bloom is None else (
            bloom.unionByName(batch_bloom)
            .groupBy("word")
            .agg(F.bit_or("bits").alias("bits"))
        )
        # the bitmap is <= m_bits/64 rows; rewrite it in one file so the
        # next batch's read is a single-footer scan. The two-rename swap
        # can crash in the middle — _load_bloom's rebuild path covers the
        # no-bloom-dir window, and leftovers are cleared up front.
        tmp = self._bloom_dir + ".tmp"
        old = self._bloom_dir + ".old"
        shutil.rmtree(old, ignore_errors=True)
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        if os.path.isdir(self._bloom_dir):
            os.replace(self._bloom_dir, old)
        os.replace(tmp, self._bloom_dir)
        shutil.rmtree(old, ignore_errors=True)
        batches.mark_committed(self.state_dir, token, batch_id)


def start_bloom_dedup(
    spark: SparkSession,
    docs_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    trigger_available_now: bool = False,
):
    """Wire :class:`BloomDedupSink` into a streaming query; returns the
    started ``StreamingQuery``. The run token is the checkpoint's
    (streaming/batches.py)."""
    sink = BloomDedupSink(
        spark,
        state_dir,
        out_dir,
        text_col=text_col,
        id_col=id_col,
        m_bits=m_bits,
        k=k,
        checkpoint_dir=checkpoint_dir,
    )
    return batches.start_foreach_batch(
        docs_stream, sink.process_batch, checkpoint_dir,
        available_now=trigger_available_now,
    )
