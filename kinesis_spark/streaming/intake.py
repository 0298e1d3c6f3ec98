"""Production intake sink: streaming document admission against the
DURABLE prep index, committing transactionally — the composed operator
the repo's pieces exist for, shipped as one foreachBatch sink instead
of a per-deployment script.

Per micro-batch of (doc_id, text, lang, source, …) rows:

1. batch-local exact dedup — min doc_id per content hash (one window);
2. exact dedup vs the durable hash store (prep_index.py's layout; the
   store is the truth that survives consumer swaps and checkpoint
   resets — streaming ``dropDuplicates`` state is per-checkpoint and
   cannot dedup across a failover to a fresh query);
3. conservative LSH admission — drop any doc sharing a MinHash band
   key with the persisted band index or with a LOWER-id batch doc
   (d3's pair rule; resolvable later by d4's exact verify);
4. ``tx_append`` the admitted docs into a transactional store — one
   atomic multi-partition commit per micro-batch, so a reader polling
   the corpus never sees a torn batch;
5. grow the durable index (admitted hashes + band keys) so later
   batches — and OTHER consumers — dedup against them;
6. incrementally refresh a per-(partition cols) rollup via
   ``tx_upsert`` — only the touched rollup rows rewrite.

At-least-once inputs are the DESIGN CASE, not an edge: a failover
consumer replaying its predecessor's final uncheckpointed batch, or a
producer re-putting records, re-presents documents the store already
admitted — step 2 drops every one of them, so the corpus converges to
exactly-once content under any replay (tests/test_showcase_e2e.py
proves the end state equals a greedy sequential oracle across a
kill/failover with deliberate re-puts).

Crash-INSIDE-a-batch convergence (the harder at-least-once case — the
hash store, band index, corpus commit, and rollup cannot be updated
atomically together) uses bloom_dedup.py's staged-batch discipline:

- The admitted set is computed ONCE and STAGED to a per-(run, batch)
  parquet snapshot before any durable state mutates; a ``_STAGED``
  sidecar marks the snapshot complete. A redo whose snapshot is marked
  reloads it VERBATIM instead of re-deriving admission against indexes
  a partial attempt already mutated (re-deriving would, e.g., see the
  batch's own band keys and resolve itself empty — then the hash store
  could never be completed). The snapshot read is also the lineage
  barrier against the read-your-own-writes trap. The snapshot holds
  the batch's columns plus ``__h`` (the content hash the hash store
  grows by) and ``__bk`` (the doc's array of MinHash band keys, null
  under 3 tokens), so the band-index append explodes stored keys
  instead of signing the admitted docs again; a snapshot without
  ``__bk`` (staged by an older version) gets its keys computed on redo.
- The corpus append runs an anti-join guard against the touched
  partitions' doc_ids ONLY on the redo path — the steady-state batch
  never scans the corpus; a redo whose predecessor died after
  ``tx_append`` finds the docs present and appends nothing.
- Index appends (bands, then hashes) are harmless to repeat —
  consumers are semi-joins, duplicates are noise, not state.
- The rollup applies an O(batch) DELTA on the fresh path and an
  idempotent RECOUNT of the touched partitions on the redo path (a
  delta can't know whether the crashed attempt already applied it).
- A ``_done`` marker written LAST makes full replays of completed
  batches (failover re-delivery) a metadata no-op; the staging
  snapshot is deleted after it.

Identity contract: ``id_col`` is unique across the stream (the
producer's contract — two DIFFERENT documents must not share an id).
The sink dedups CONTENT; it does not adjudicate id collisions.

Ordering contract: within a batch, admission is deterministic (min-id
window + the a.id < b.id band rule). Across batches it is first-come-
first-admitted — the arrival order IS the tie-break, which is the only
meaningful contract for an unbounded stream.

Scale shape per FRESH batch: ONE scan of the batch and ONE MinHash
signature per document that survives exact dedup, then three batch-side
shuffles — the hash window (min id per content hash, which also
partitions the anti-join against the hash store), the band window (the
band-index join and the min id per band key share its partitioning;
the payload rides only on each doc's first band row) and the doc window
(any hit per doc). Add one batch-sized staging write/read, one manifest
swap per touched store, and a rollup delta over rollup-sized rows.
Nothing scales with the corpus except the two hash/key-sized index
scans, and a missing index is an empty relation the optimizer prunes;
the touched-partition collect and the corpus-partition scans happen
only on crash-redo."""

from __future__ import annotations

import hashlib
import os
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_spark.txstore import (
    tx_append,
    tx_current_manifest,
    tx_init,
    tx_read,
    tx_upsert,
)

WS = r"[ \t\n\f\r\x0B]+"


class PrepIntakeSink:
    """foreachBatch admission against durable state. ``hashes_dir`` /
    ``bands_dir`` follow prep_index.py's layout (bootstrap them with
    ``build_prep_index`` or let the sink grow them from empty);
    ``store_root`` / ``rollup_root`` are transactional stores created on
    first use, partitioned by ``partition_cols``. ``run_token`` scopes
    batch numbering to one streaming query (``start_prep_intake``
    derives it from the checkpoint location, so restarts of the same
    checkpoint share markers while a NEW query's batch 0 is new work)."""

    def __init__(
        self,
        spark: SparkSession,
        *,
        hashes_dir: str,
        bands_dir: str,
        store_root: str,
        rollup_root: str | None = None,
        partition_cols: tuple[str, ...] = ("lang", "source"),
        id_col: str = "doc_id",
        text_col: str = "text",
        run_token: str = "manual",
    ) -> None:
        self.spark = spark
        self.hashes_dir = hashes_dir
        self.bands_dir = bands_dir
        # The staged/done markers and the staging snapshot use local
        # os.path/open/shutil I/O; a non-local store_root (hdfs://, s3a://)
        # would silently write markers to a misleading local path and void
        # the crash-redo protocol. Fail fast until marker I/O is routed
        # through the Hadoop FS like txstore's _fs helpers.
        scheme = urllib.parse.urlparse(store_root).scheme
        if scheme:
            # even file:// breaks: os.path.join would treat the URI as a
            # relative path, creating a literal "file:" directory in cwd
            raise ValueError(
                "PrepIntakeSink markers use local-filesystem I/O; "
                f"store_root must be a plain local path, got scheme "
                f"{scheme!r} ({store_root!r}). Mount the store locally or "
                "extend the sink's marker I/O to the Hadoop FS first."
            )
        self.store_root = store_root
        self.rollup_root = rollup_root
        self.partition_cols = list(partition_cols)
        self.id_col = id_col
        self.text_col = text_col
        self.run_token = run_token

    # -- internals -----------------------------------------------------

    def _intake_dir(self) -> str:
        return os.path.join(self.store_root, "_intake")

    def _marker(self, kind: str, batch_id: int) -> str:
        return os.path.join(
            self._intake_dir(), f"_{kind}-{self.run_token}-{batch_id}"
        )

    def _stage_dir(self, batch_id: int) -> str:
        return os.path.join(
            self._intake_dir(), "staging", f"b-{self.run_token}-{batch_id}"
        )

    def _existing(self, path: str, col: str) -> DataFrame:
        """The one string column ``col`` of the index at ``path``."""
        from pyspark.errors import AnalysisException

        from kinesis_spark.partitioned_store import is_missing_store

        try:
            return self.spark.read.schema(f"{col} string").parquet(path)
        except AnalysisException as exc:
            # missing path = empty index. ONLY that: any other failure
            # on a populated index must fail the batch (and let the
            # streaming query retry), not admit everything as fresh
            if not is_missing_store(exc):
                raise
            # an empty relation Catalyst prunes: the join against it
            # folds away instead of scanning and shuffling nothing
            return self.spark.range(0).select(F.lit(None).cast("string").alias(col))

    def _admit(self, batch: DataFrame) -> DataFrame:
        """Steps 1-3: the admitted subset of ``batch`` plus its content
        hash ``__h`` and band-key array ``__bk`` (lazy — the caller
        materializes it into the staging snapshot).

        ``batch`` is referenced ONCE (a DataFrame consumed twice re-runs
        its whole upstream, pipelines.p1): hash window → anti-join vs
        the hash store → row-local band keys → one row per (doc, band)
        with the payload on the doc's first row only → left join to the
        band index → band window (min id) → doc window (any hit)."""
        from pyspark.sql.window import Window

        from kinesis_spark.streaming.neardup import with_band_keys

        did = self.id_col
        cols = [*batch.columns, "__h", "__bk"]
        payload = [c for c in cols if c != did]
        wh = Window.partitionBy("__h").orderBy(did)
        firsts = (
            batch.withColumn("__h", F.sha2(self.text_col, 256))
            .withColumn("__rn", F.row_number().over(wh))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        store = self._existing(self.hashes_dir, "h")
        fresh = firsts.join(store, firsts["__h"] == store["h"], "left_anti")

        exploded = with_band_keys(fresh, self.text_col).select(
            *cols, F.posexplode_outer("__bk").alias("__pos", "__band")
        )
        first = F.coalesce(F.col("__pos"), F.lit(0)) == 0
        rows = exploded.select(
            did,
            "__band",
            first.alias("__first"),
            *[F.when(first, F.col(c)).alias(c) for c in payload],
        )
        # no distinct on the append-only index: a key it holds twice
        # duplicates only rows of a doc that the hit drops anyway
        index = self._existing(self.bands_dir, "band_key").select(
            F.col("band_key").alias("__indexed")
        )
        probed = rows.join(index, rows["__band"] == index["__indexed"], "left")
        # a band-index hit, or a LOWER-id batch doc in the same bucket
        # (d3's a.id < b.id rule); keyless docs (< 3 tokens) never match
        near = F.col("__band").isNotNull() & (
            F.col("__indexed").isNotNull()
            | (F.col(did) > F.min(did).over(Window.partitionBy("__band")))
        )
        flagged = probed.withColumn("__near", near).withColumn(
            "__near", F.max("__near").over(Window.partitionBy(did))
        )
        return flagged.filter(F.col("__first") & ~F.col("__near")).select(*cols)

    def _corpus_rows(self, admitted: DataFrame) -> DataFrame:
        """The corpus projection of a staged snapshot."""
        return admitted.drop("__h", "__bk")

    def _rollup_agg(self, docs: DataFrame) -> DataFrame:
        pcols = self.partition_cols
        return (
            docs.groupBy(*pcols)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum(F.size(F.split(self.text_col, WS)))
                .cast("bigint")
                .alias("total_tokens"),
            )
            .withColumn("ls", F.concat_ws("|", *pcols))
            .select("ls", *pcols, "n_docs", "total_tokens")
        )

    def _rollup_delta(self, docs: DataFrame) -> None:
        """Fresh path: add the batch's counts to the touched rollup rows
        (O(batch) + rollup-sized reads; runs at most once per batch —
        any crash reroutes the batch through the redo RECOUNT)."""
        spark, pcols = self.spark, self.partition_cols
        agg = self._rollup_agg(docs)
        try:
            tx_current_manifest(spark, self.rollup_root)
        except FileNotFoundError:
            tx_init(spark, self.rollup_root, agg, partition_col=pcols[0])
            return
        cur = tx_read(spark, self.rollup_root)
        merged = (
            agg.alias("n")
            .join(cur.alias("o"), "ls", "left")
            .select(
                "ls",
                *[F.col(f"n.{c}").alias(c) for c in pcols],
                (F.col("n.n_docs") + F.coalesce("o.n_docs", F.lit(0)))
                .cast("bigint")
                .alias("n_docs"),
                (
                    F.col("n.total_tokens")
                    + F.coalesce("o.total_tokens", F.lit(0))
                )
                .cast("bigint")
                .alias("total_tokens"),
            )
        )
        tx_upsert(spark, self.rollup_root, merged, key="ls")

    def _rollup_recount(self, touched: list[tuple]) -> None:
        """Redo path: recount the touched corpus partitions — idempotent
        (values come from the STORE, not accumulated deltas), so a redo
        converges no matter where the crashed attempt stopped."""
        spark = self.spark
        try:
            slice_df = tx_read(spark, self.store_root, partition_values=touched)
        except FileNotFoundError:
            return  # nothing ever admitted: nothing to count
        agg = self._rollup_agg(slice_df)
        try:
            tx_current_manifest(spark, self.rollup_root)
            tx_upsert(spark, self.rollup_root, agg, key="ls")
        except FileNotFoundError:
            tx_init(spark, self.rollup_root, agg, partition_col=self.partition_cols[0])

    # -- the sink --------------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if os.path.exists(self._marker("done", batch_id)):
            return  # full replay of a completed batch: metadata no-op

        stage = self._stage_dir(batch_id)
        staged_marker = self._marker("staged", batch_id)
        redo = os.path.exists(staged_marker)
        if redo:
            # a prior attempt crashed after staging: reuse ITS admitted
            # set verbatim — the indexes may already contain this
            # batch's keys, so re-deriving admission would be wrong
            admitted = self.spark.read.parquet(stage)
        else:
            # stage the admitted snapshot before any durable mutation
            # (overwrite: a crash mid-write just re-stages); the
            # read-back is also the lineage barrier against the
            # read-your-own-writes trap
            self._admit(batch).write.mode("overwrite").parquet(stage)
            os.makedirs(self._intake_dir(), exist_ok=True)
            with open(staged_marker, "w") as f:
                f.write(str(batch_id))
            admitted = self.spark.read.parquet(stage)

        if not admitted.isEmpty():
            docs = self._corpus_rows(admitted)
            # the touched partitions serve the redo path only: its
            # corpus guard and its rollup recount
            touched = (
                [
                    tuple(r)
                    for r in docs.select(*self.partition_cols).distinct().collect()
                ]
                if redo
                else []
            )
            try:
                tx_current_manifest(self.spark, self.store_root)
                if redo:
                    # corpus-guard, REDO ONLY: the crashed attempt may
                    # have appended already; the steady state never
                    # pays this corpus-partition scan
                    present = tx_read(
                        self.spark, self.store_root, partition_values=touched
                    ).select(F.col(self.id_col).alias("__present_id"))
                    to_append = docs.join(
                        present,
                        docs[self.id_col] == present["__present_id"],
                        "left_anti",
                    )
                    if not to_append.isEmpty():
                        tx_append(self.spark, self.store_root, to_append)
                else:
                    tx_append(self.spark, self.store_root, docs)
            except FileNotFoundError:
                tx_init(
                    self.spark,
                    self.store_root,
                    docs,
                    partition_col=self.partition_cols,
                )
            # index appends are repeat-harmless (semi-join consumers);
            # the snapshot guarantees the SAME rows on every attempt. A
            # snapshot staged before ``__bk`` existed gets its keys here.
            from kinesis_spark.streaming.neardup import with_band_keys

            keyed = (
                admitted
                if "__bk" in admitted.columns
                else with_band_keys(admitted, self.text_col)
            )
            keyed.select(F.explode("__bk").alias("band_key")).distinct().write.mode(
                "append"
            ).parquet(self.bands_dir)
            admitted.select(F.col("__h").alias("h")).write.mode(
                "append"
            ).parquet(self.hashes_dir)
            if self.rollup_root is not None:
                if redo:
                    self._rollup_recount(touched)
                else:
                    self._rollup_delta(docs)

        with open(self._marker("done", batch_id), "w") as f:
            f.write(str(batch_id))
        import shutil

        shutil.rmtree(stage, ignore_errors=True)
        try:
            os.unlink(staged_marker)
        except FileNotFoundError:
            pass


def start_prep_intake(
    docs_stream: DataFrame,
    sink: PrepIntakeSink,
    checkpoint_dir: str,
    trigger_available_now: bool = False,
):
    """Wire the sink into a streaming query. The caller owns the
    upstream gate (language/length/quality filters are stream-safe
    projections) and any replay-shield ``dropDuplicates`` it wants in
    front. Scopes the sink's batch markers to this checkpoint, so a
    restart of the SAME checkpoint replays against its own markers
    while a fresh query starts a fresh marker space. Returns the
    started StreamingQuery."""
    sink.run_token = hashlib.md5(
        os.path.realpath(checkpoint_dir).encode()
    ).hexdigest()[:12]
    writer = (
        docs_stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
