"""Streaming chunk-granularity dedup — the always-on maintainer of
p15's chunk store (``prep_index.chunk_dedup_rewrite`` /
``build_chunk_index``), mirroring ``streaming/bloom_dedup.py``'s
durable-state protocol at CHUNK granularity.

Each micro-batch of documents is rewritten against the durable chunk
store: chunks the corpus already owns (any prior batch) or that repeat
within the batch are dropped, the per-document rewrite report
(n_chunks, n_dropped, token accounting, byte-pinning clean_md5) lands
in a per-batch output subdirectory, and the batch's surviving chunk
hashes are appended to the store so the NEXT batch sees them as
corpus-owned — day-over-day admission without ever re-scanning
admitted history.

State layout (single-writer per ``state_dir``, any number of readers):

- ``<state_dir>/chunks/ingest_batch=<token>-<id>/`` — the admitted
  distinct chunk hashes, one subdirectory per committed batch (16 B
  per chunk; the store is scanned pruned to its single column and
  confirmed via a batch-scale broadcast semi-join — never shuffled,
  never broadcast).
- ``<out_dir>/ingest_batch=<token>-<id>/`` — per-document rewrite
  reports, admission provenance for free via the partition column.

Exactly-once (foreachBatch replays a batch after failure): a committed
batch is skipped by the run-token marker (streaming/batches.py); a batch
that died half-written is redone safely, because

1. both writes are per-batch OVERWRITE subdirectories keyed by
   (run token, batch id) — a replay rewrites, never duplicates;
2. the store handed to the rewrite EXCLUDES the batch's OWN
   subdirectory, so the redo recomputes the identical report (its own
   partial hashes can't turn its chunks into "corpus-owned" dups).

Per-batch cost: the batch scan (pinned once for the three consumers
inside the rewrite), one 16 B/row hash shuffle, one single-column
store scan — nothing proportional to admitted history except that
pruned scan, same as the gram/hash stores at 100 TB (where the store
would additionally bucket by hash prefix for file pruning).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_spark.pins import scope
from kinesis_spark.streaming import batches


class ChunkDedupSink:
    """foreachBatch sink: rewrite each batch's documents dropping
    corpus-owned / within-batch-repeated chunks, then append the
    surviving chunk hashes to the durable store."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        out_dir: str,
        *,
        run_token: str | None = None,
        checkpoint_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.out_dir = out_dir
        self.run_token = run_token or batches.run_token(checkpoint_dir)

    @property
    def _chunk_dir(self) -> str:
        return os.path.join(self.state_dir, "chunks")

    def _load_chunks(self) -> DataFrame | None:
        if not os.path.isdir(self._chunk_dir):
            return None
        return self.spark.read.parquet(self._chunk_dir)

    @scope()
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from kinesis_spark.prep_index import chunk_dedup_rewrite, new_keys
        from kinesis_spark.queries.textstats import chunk_relation

        token = self.run_token
        if batches.skip_if_committed(batch, self.state_dir, token, batch_id):
            return
        key = f"{token}-{batch_id}"
        store = self._load_chunks()
        if store is None:
            store = self.spark.createDataFrame([], "chunk_hash string")
        else:
            # exclude this batch's OWN subdirectory (redo rule 2)
            store = store.filter(F.col("ingest_batch") != key).select(
                "chunk_hash"
            )
        report = chunk_dedup_rewrite(self.spark, batch, store=store)
        out_sub = os.path.join(self.out_dir, f"ingest_batch={key}")
        report.write.mode("overwrite").parquet(out_sub)

        # surviving hashes = the batch's distinct chunk hashes not
        # already corpus-owned (the kept first occurrences admit them)
        batch_keys = (
            chunk_relation(batch.select("doc_id", "text"), text=False)
            .select("chunk_hash")
            .distinct()
        )
        fresh = new_keys(batch_keys, store, "chunk_hash")
        chunk_sub = os.path.join(self._chunk_dir, f"ingest_batch={key}")
        fresh.write.mode("overwrite").parquet(chunk_sub)
        batches.mark_committed(self.state_dir, token, batch_id)


def start_chunk_dedup(
    spark: SparkSession,
    docs_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    trigger_available_now: bool = False,
):
    """Wire :class:`ChunkDedupSink` into a streaming query; returns the
    started ``StreamingQuery``. The run token is the checkpoint's
    (streaming/batches.py)."""
    sink = ChunkDedupSink(
        spark, state_dir, out_dir, checkpoint_dir=checkpoint_dir
    )
    return batches.start_foreach_batch(
        docs_stream, sink.process_batch, checkpoint_dir,
        available_now=trigger_available_now,
    )
