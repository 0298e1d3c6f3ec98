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
4. The committed-batch marker is scoped to the run token (derived from
   the checkpoint location) — a NEW query restarting batch numbering at
   0 is new data to process, not a replay to skip.

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

_MARKER = "_last_batch"


def _read_marker(state_dir: str) -> tuple[str, int]:
    try:
        with open(os.path.join(state_dir, _MARKER)) as f:
            token, _, bid = f.read().strip().rpartition(":")
            return token, int(bid)
    except (OSError, ValueError):
        return "", -1


def _write_marker(state_dir: str, token: str, batch_id: int) -> None:
    tmp = os.path.join(state_dir, f".{_MARKER}.tmp")
    with open(tmp, "w") as f:
        f.write(f"{token}:{batch_id}")
    os.replace(tmp, os.path.join(state_dir, _MARKER))


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
        # token identity: explicit > a sidecar file inside the
        # checkpoint dir seeded from the query's metadata id (stable
        # across restarts AND replay attempts of the same checkpoint,
        # FRESH when the checkpoint is recreated — a path hash would
        # wrongly survive rm -rf) > a per-instance nonce
        self._fixed_token = run_token
        self._checkpoint_dir = checkpoint_dir
        self._resolved_token: str | None = None
        os.makedirs(state_dir, exist_ok=True)

    # -- state ------------------------------------------------------------
    @property
    def _bloom_dir(self) -> str:
        return os.path.join(self.state_dir, "bloom")

    @property
    def _hash_dir(self) -> str:
        return os.path.join(self.state_dir, "hashes")

    @property
    def run_token(self) -> str:
        if self._resolved_token is not None:
            return self._resolved_token
        if self._fixed_token is not None:
            self._resolved_token = self._fixed_token
        elif self._checkpoint_dir is not None:
            self._resolved_token = self._checkpoint_token()
        else:
            import uuid

            self._resolved_token = uuid.uuid4().hex[:12]
        return self._resolved_token

    def _checkpoint_token(self) -> str:
        """A token with exactly the checkpoint's lifecycle, stable across
        every attempt and restart of the same checkpoint. A sidecar file
        INSIDE the checkpoint dir is the source of truth (created once,
        O_EXCL, from the query id when the metadata is readable or a
        nonce when the bootstrap races it); `rm -rf checkpoint` removes
        it, so a recreated checkpoint gets a fresh token. Resolving the
        metadata id directly on a later attempt would be WRONG: an
        attempt that crashed mid-write under a bootstrap nonce must be
        recognized by its replay, which requires the replay to read the
        SAME token, not a newly-readable query id."""
        import json
        import uuid

        side = os.path.join(self._checkpoint_dir, ".kinesis_spark_run_token")
        try:
            with open(side) as f:
                return f.read().strip()
        except OSError:
            pass
        try:
            with open(os.path.join(self._checkpoint_dir, "metadata")) as f:
                token = json.load(f)["id"][:12]
        except (OSError, ValueError, KeyError):
            token = f"boot-{uuid.uuid4().hex[:12]}"
        os.makedirs(self._checkpoint_dir, exist_ok=True)
        try:
            fd = os.open(side, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            with open(side) as f:  # lost the create race: theirs wins
                return f.read().strip()
        with os.fdopen(fd, "w") as f:
            f.write(token)
        return token

    def _batch_key(self, token: str, batch_id: int) -> str:
        return f"{token}-{batch_id}"

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
        # resolve the token ONCE per batch: when the checkpoint metadata
        # is briefly unreadable the boot fallback mints a fresh nonce per
        # read, and the marker check, the batch subdirectory key, and the
        # own-hash exclusion filter must all agree within one batch — a
        # replay that keys its subdir under a different token than its
        # first attempt would see its own partial hashes as "already
        # admitted" and silently drop the replayed rows
        token = self.run_token
        m_token, m_id = _read_marker(self.state_dir)
        if m_token == token and batch_id <= m_id:
            return  # replay of a committed batch from THIS run: no-op
        key = self._batch_key(token, batch_id)
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
            _write_marker(self.state_dir, token, batch_id)
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
        _write_marker(self.state_dir, token, batch_id)


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
    """Wire :class:`BloomDedupSink` into a streaming query. Returns the
    started ``StreamingQuery``. The run token shares the checkpoint's
    lifecycle (a sidecar file seeded from the query id): the same
    checkpoint resumes the same batch numbering (marker applies); a NEW
    or recreated checkpoint gets a new token, so its batch 0 is new
    data to process, not a replay to skip."""
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
    writer = (
        docs_stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
