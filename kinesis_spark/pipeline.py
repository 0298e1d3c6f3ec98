"""One-call production intake pipeline (config-in, audit-DataFrame-out).

The chain this module runs — previously available only as the
integration test's plumbing (tests/test_showcase_e2e.py) — is the
engine's production story end-to-end, every seam a real module:

    stream transport (spool dir; the fake-SDK shape boto3 would fill)
      → leased KCL-mode consumer (streaming/kinesis_source.py +
        ingest/leases.py: epoch-fenced shard leases, so a second
        consumer steals a dead consumer's shards and resumes from its
        checkpoint)
      → parse (from_json) → language/length gate → replay-shield
        dropDuplicates on the id column (RocksDB-backed)
      → PrepIntakeSink (streaming/intake.py): per-micro-batch admission
        against the DURABLE bloom/hash store and MinHash band index,
        atomic multi-level tx_append into the corpus txstore, and an
        incremental per-partition rollup refresh — crash-convergent via
        the staged-snapshot redo protocol
      → optional leakage-free split + byte-deterministic training
        shards (shards.py)

``run_intake`` performs ONE availableNow drain (process everything the
stream currently holds, then stop) and returns the audit DataFrame:
the per-(partition_cols) rollup rows stamped with the corpus store's
committed version and the consumer id. Repeated drains — including
at-least-once redeliveries and a different consumer taking over — are
safe by construction: the durable hash store swallows replays without
double-admitting a document.

CLI verb::

    python -m kinesis_spark intake --spool DIR --stream NAME --work DIR

Scale shape: everything the drain does is per-micro-batch DataFrame
work (admission joins are batch × broadcast-sized index relations; the
corpus is never scanned or broadcast), and the corpus/rollup stores are
partitioned txstores — the same layout the batch faces use at 100 TB.
"""

from __future__ import annotations

import dataclasses
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_spark.queries import WS_RE
from kinesis_spark.queries.pipelines import _KEEP_LANGS, _MIN_TOKENS
from kinesis_spark.session import state_store
from kinesis_spark.streaming.intake import PrepIntakeSink, start_prep_intake
from kinesis_spark.txstore import tx_current_manifest, tx_read


@dataclass(frozen=True)
class IntakeConfig:
    """Everything ``run_intake`` needs. Only the first three are
    required; storage paths derive from ``work_dir`` unless overridden
    (one root to provision, every store inspectable under it)."""

    spool_dir: str  # stream transport (ingest spool / fake-SDK dir)
    stream: str  # stream name within the transport
    work_dir: str  # root for index/corpus/rollup/lease/checkpoint state

    consumer_id: str = "consumer-1"
    lease_ttl_s: float = 30.0  # dead-consumer takeover horizon
    doc_schema: str = "doc_id long, text string, lang string, source string"
    keep_langs: tuple[str, ...] = _KEEP_LANGS
    min_tokens: int = _MIN_TOKENS
    partition_cols: tuple[str, ...] = ("lang", "source")
    id_col: str = "doc_id"
    text_col: str = "text"
    state_backend: str = "rocksdb"  # replay-shield dropDuplicates state
    await_s: float = 240.0  # drain timeout
    shards_dir: str | None = None  # set → write training shards after drain
    n_shards: int = 8

    # storage overrides (default: derived from work_dir)
    hashes_dir: str | None = None
    bands_dir: str | None = None
    store_root: str | None = None
    rollup_root: str | None = None
    lease_dir: str | None = None
    checkpoint_dir: str | None = None

    def _p(self, override: str | None, *rel: str) -> str:
        return override or os.path.join(self.work_dir, *rel)

    @property
    def hashes(self) -> str:
        return self._p(self.hashes_dir, "index", "hashes")

    @property
    def bands(self) -> str:
        return self._p(self.bands_dir, "index", "bands")

    @property
    def corpus(self) -> str:
        return self._p(self.store_root, "corpus_tx")

    @property
    def rollup(self) -> str:
        return self._p(self.rollup_root, "rollup_tx")

    @property
    def leases(self) -> str:
        return self._p(self.lease_dir, "leases")

    @property
    def checkpoint(self) -> str:
        # per-consumer: B taking over is its own run, so A's committed
        # batches never swallow B's (run tokens: streaming/batches.py)
        return self._p(self.checkpoint_dir, f"ckpt-{self.consumer_id}")


def make_intake_sink(spark: SparkSession, cfg: IntakeConfig) -> PrepIntakeSink:
    """The durable-admission sink for ``cfg``'s stores. Exposed so
    callers (and the e2e test) can subclass for per-batch observability
    and hand the instance to ``run_intake``."""
    return PrepIntakeSink(
        spark,
        hashes_dir=cfg.hashes,
        bands_dir=cfg.bands,
        store_root=cfg.corpus,
        rollup_root=cfg.rollup,
        partition_cols=cfg.partition_cols,
        id_col=cfg.id_col,
        text_col=cfg.text_col,
    )


def _consumer_stream(spark: SparkSession, cfg: IntakeConfig) -> DataFrame:
    from kinesis_spark.streaming.kinesis_source import KinesisConsumerDataSource

    spark.dataSource.register(KinesisConsumerDataSource)
    return (
        spark.readStream.format("kinesis_consumer")
        .option("spool_dir", cfg.spool_dir)
        .option("stream", cfg.stream)
        .option("lease_dir", cfg.leases)
        .option("consumer_id", cfg.consumer_id)
        .option("lease_ttl_s", str(cfg.lease_ttl_s))
        .option(
            "lineage_state_path",
            os.path.join(cfg.work_dir, f"lineage-{cfg.consumer_id}.json"),
        )
        .load()
    )


def _gated_docs(stream: DataFrame, cfg: IntakeConfig) -> DataFrame:
    docs = stream.select(
        F.from_json(F.col("data").cast("string"), cfg.doc_schema).alias("j")
    ).select("j.*")
    return docs.filter(
        F.col("lang").isin(*cfg.keep_langs)
        & (F.size(F.split(cfg.text_col, WS_RE)) >= cfg.min_tokens)
    ).dropDuplicates([cfg.id_col])


def run_intake(
    spark: SparkSession,
    cfg: IntakeConfig,
    sink: PrepIntakeSink | None = None,
) -> DataFrame:
    """One availableNow drain of the production chain; returns the audit
    DataFrame: the per-``partition_cols`` rollup (n_docs, total_tokens)
    stamped with the corpus txstore's committed version and the consumer
    id. Raises TimeoutError if the drain exceeds ``cfg.await_s``."""
    sink = sink if sink is not None else make_intake_sink(spark, cfg)
    docs = _gated_docs(_consumer_stream(spark, cfg), cfg)
    with state_store(spark, cfg.state_backend):
        q = start_prep_intake(
            docs, sink, cfg.checkpoint, trigger_available_now=True
        )
        try:
            if not q.awaitTermination(cfg.await_s):
                raise TimeoutError(
                    f"intake drain exceeded {cfg.await_s}s "
                    f"(stream={cfg.stream!r}, consumer={cfg.consumer_id!r})"
                )
        finally:
            q.stop()

    try:
        version = tx_current_manifest(spark, cfg.corpus)["version"]
    except FileNotFoundError:
        # zero admissions ever (empty stream, everything gated out, or a
        # pure replay): the sink lazily creates its stores on the first
        # admitted batch, so none exists — the audit is EMPTY, not a crash
        schema = ", ".join(
            [f"{c} string" for c in cfg.partition_cols]
            + ["n_docs bigint", "total_tokens bigint",
               "corpus_version int", "consumer_id string"]
        )
        return spark.createDataFrame([], schema)

    if cfg.shards_dir is not None:
        from kinesis_spark.shards import write_training_shards

        write_training_shards(
            tx_read(spark, cfg.corpus), cfg.shards_dir, n_shards=cfg.n_shards
        )

    return (
        tx_read(spark, cfg.rollup)
        .withColumn("corpus_version", F.lit(version).cast("int"))
        .withColumn("consumer_id", F.lit(cfg.consumer_id))
    )


def takeover(cfg: IntakeConfig, consumer_id: str, **overrides) -> IntakeConfig:
    """The failover config: same stores and leases, a NEW consumer id
    (its own checkpoint/lineage). After the old consumer's leases lapse
    (``lease_ttl_s`` with no renew), ``run_intake`` with this config
    steals its shards and resumes from the lease checkpoints."""
    return dataclasses.replace(cfg, consumer_id=consumer_id, **overrides)
