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

Exactly-once (foreachBatch replays a batch after failure) — the
bloom_dedup protocol verbatim:

1. Both writes are per-batch OVERWRITE subdirectories keyed by
   (run token, batch id) — a replay rewrites, never duplicates.
2. The store handed to the rewrite EXCLUDES the batch's OWN
   subdirectory, so a replay whose first attempt died mid-write
   recomputes the identical report (its own partial hashes can't turn
   its chunks into "corpus-owned" dups).
3. The committed-batch marker is scoped to the run token (sidecar in
   the checkpoint dir), so a recreated checkpoint restarting batch
   numbering is new data, not a replay to skip.

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
from kinesis_spark.streaming.bloom_dedup import (
    BloomDedupSink,
    _read_marker,
    _write_marker,
)


class ChunkDedupSink(BloomDedupSink):
    """foreachBatch sink: rewrite each batch's documents dropping
    corpus-owned / within-batch-repeated chunks, then append the
    surviving chunk hashes to the durable store. Inherits the run-token
    / marker / batch-key machinery (the exactly-once identity) from
    :class:`BloomDedupSink`; the bloom-specific knobs are unused."""

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

        token = self.run_token  # resolve ONCE per batch (see bloom sink)
        m_token, m_id = _read_marker(self.state_dir)
        if m_token == token and batch_id <= m_id:
            return  # replay of a committed batch from THIS run: no-op
        key = self._batch_key(token, batch_id)
        store = self._load_chunks()
        if store is None:
            store = self.spark.createDataFrame([], "chunk_hash string")
        else:
            # exclude this batch's OWN subdirectory (replay rule 2)
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
        _write_marker(self.state_dir, token, batch_id)


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
    started ``StreamingQuery``. Token/checkpoint lifecycle identical to
    :func:`start_bloom_dedup`."""
    sink = ChunkDedupSink(
        spark, state_dir, out_dir, checkpoint_dir=checkpoint_dir
    )
    writer = (
        docs_stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
