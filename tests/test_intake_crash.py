"""Crash-inside-a-batch convergence of the production intake sink
(streaming/intake.py): the hash store, band index, corpus commit, and
rollup cannot be updated atomically together, so the sink's staged-
snapshot redo protocol must make every crash point safe. Each test
simulates a crash by executing the REAL step prefix a crashed attempt
would have completed (staging snapshot + marker first — that is the
sink's own ordering), then redelivers the batch through the full sink
and asserts the end state equals the clean single-delivery state."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kinesis_spark.io import load_table
from kinesis_spark.queries.pipelines import _KEEP_LANGS
from kinesis_spark.streaming.intake import PrepIntakeSink
from kinesis_spark.txstore import tx_append, tx_read


def _batch(spark, sf_dir, lo, hi):
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang").isin(*_KEEP_LANGS))
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .select("doc_id", "text", "lang", "source")
    )


def _mk_sink(spark, work):
    return PrepIntakeSink(
        spark,
        hashes_dir=f"{work}/index/hashes",
        bands_dir=f"{work}/index/bands",
        store_root=f"{work}/corpus_tx",
        rollup_root=f"{work}/rollup_tx",
        partition_cols=("lang", "source"),
    )


def _end_state(spark, sink):
    corpus = sorted(
        r.doc_id for r in tx_read(spark, sink.store_root).select("doc_id").collect()
    )
    rollup = {
        (r.lang, r.source): (r.n_docs, r.total_tokens)
        for r in tx_read(spark, sink.rollup_root).collect()
    }
    return corpus, rollup


def _clean_reference(spark, sf_dir, tmp_path):
    """The state a single clean delivery of both batches produces."""
    sink = _mk_sink(spark, str(tmp_path / "ref"))
    sink.process_batch(_batch(spark, sf_dir, 0, 200), 0)
    sink.process_batch(_batch(spark, sf_dir, 200, 400), 1)
    return _end_state(spark, sink)


def _stage_only(sink, batch, batch_id, drop=()):
    """The sink's own first step: snapshot the admitted set + marker
    (less the ``drop`` columns, to stage an older snapshot layout)."""
    stage = sink._stage_dir(batch_id)
    sink._admit(batch).drop(*drop).write.mode("overwrite").parquet(stage)
    os.makedirs(sink._intake_dir(), exist_ok=True)
    with open(sink._marker("staged", batch_id), "w") as f:
        f.write(str(batch_id))
    return sink.spark.read.parquet(stage)


def test_crash_after_append_before_index_converges(spark, sf_dir, tmp_path):
    """Crash after tx_append, before any index write: the redo path
    (staged marker present) reloads the snapshot, the corpus-guard
    finds the docs already appended and appends nothing, and the index
    + rollup complete — no duplicate doc_ids, rollup exact."""
    ref = _clean_reference(spark, sf_dir, tmp_path)
    sink = _mk_sink(spark, str(tmp_path / "a"))
    sink.process_batch(_batch(spark, sf_dir, 0, 200), 0)

    b2 = _batch(spark, sf_dir, 200, 400)
    admitted = _stage_only(sink, b2, 1)
    tx_append(spark, sink.store_root, sink._corpus_rows(admitted))
    # ... crash. Redeliver the whole batch through the full sink:
    sink.process_batch(b2, 1)

    corpus, rollup = _end_state(spark, sink)
    assert corpus == ref[0]  # no double-admission
    assert len(corpus) == len(set(corpus))
    assert rollup == ref[1]  # recount healed the rollup
    # a THIRD delivery of the completed batch is a marker no-op
    sink.process_batch(b2, 2 - 1)
    assert _end_state(spark, sink) == ref


def test_crash_after_bands_before_hashes_converges(spark, sf_dir, tmp_path):
    """Crash between the band-index append and the hash-store append —
    the window where RE-DERIVING admission would see the batch's own
    band keys and resolve itself empty, leaving the hash store
    permanently incomplete. The snapshot redo must complete the hash
    store with exactly the original admitted hashes."""
    from kinesis_spark.streaming.neardup import band_keys

    ref = _clean_reference(spark, sf_dir, tmp_path)
    sink = _mk_sink(spark, str(tmp_path / "b"))
    sink.process_batch(_batch(spark, sf_dir, 0, 200), 0)

    b2 = _batch(spark, sf_dir, 200, 400)
    admitted = _stage_only(sink, b2, 1)
    tx_append(spark, sink.store_root, sink._corpus_rows(admitted))
    band_keys(
        admitted.select("doc_id", "text")
    ).select("band_key").distinct().write.mode("append").parquet(sink.bands_dir)
    # snapshot the expected hashes BEFORE the redo deletes the staging
    batch_hashes = {r["__h"] for r in admitted.select("__h").collect()}
    n_admitted = admitted.count()
    # ... crash BEFORE the hash-store write. Redeliver:
    sink.process_batch(b2, 1)

    corpus, rollup = _end_state(spark, sink)
    assert corpus == ref[0] and rollup == ref[1]
    # the hash store DID get the batch's hashes (the truth is complete:
    # every corpus doc's hash is present exactly where consumers look)
    hashes = {r.h for r in spark.read.parquet(sink.hashes_dir).collect()}
    assert batch_hashes <= hashes
    assert n_admitted == len(batch_hashes)


def test_crash_after_hashes_before_rollup_converges(spark, sf_dir, tmp_path):
    """Crash after every index artifact but before the rollup: the redo
    reloads the snapshot (NOT the now-self-blocking indexes) and the
    recount heals the rollup."""
    ref = _clean_reference(spark, sf_dir, tmp_path)
    sink = _mk_sink(spark, str(tmp_path / "c"))
    sink.process_batch(_batch(spark, sf_dir, 0, 200), 0)

    b2 = _batch(spark, sf_dir, 200, 400)
    admitted = _stage_only(sink, b2, 1)
    tx_append(spark, sink.store_root, sink._corpus_rows(admitted))
    from kinesis_spark.streaming.neardup import band_keys

    band_keys(
        admitted.select("doc_id", "text")
    ).select("band_key").distinct().write.mode("append").parquet(sink.bands_dir)
    admitted.select(F.col("__h").alias("h")).write.mode("append").parquet(
        sink.hashes_dir
    )
    stale = {
        (r.lang, r.source): r.n_docs
        for r in tx_read(spark, sink.rollup_root).collect()
    }
    # ... crash. Redeliver:
    sink.process_batch(b2, 1)

    corpus, rollup = _end_state(spark, sink)
    assert corpus == ref[0]
    assert rollup == ref[1]
    # the partial attempt really had left the rollup behind
    assert any(stale.get(k, 0) < v[0] for k, v in ref[1].items())


def test_redo_of_snapshot_without_band_keys_converges(spark, sf_dir, tmp_path):
    """A snapshot staged by a sink version that kept no ``__bk`` column
    (batch columns + ``__h`` only): the redo computes the band keys
    itself, so the corpus, rollup AND band index equal a clean run's."""
    ref = _mk_sink(spark, str(tmp_path / "ref"))
    ref.process_batch(_batch(spark, sf_dir, 0, 200), 0)
    ref.process_batch(_batch(spark, sf_dir, 200, 400), 1)
    sink = _mk_sink(spark, str(tmp_path / "e"))
    sink.process_batch(_batch(spark, sf_dir, 0, 200), 0)

    b2 = _batch(spark, sf_dir, 200, 400)
    staged = _stage_only(sink, b2, 1, drop=("__bk",))
    assert "__bk" not in staged.columns and staged.count() > 0
    # ... crash before any durable write. Redeliver:
    sink.process_batch(b2, 1)

    def bands(s):
        return {r.band_key for r in spark.read.parquet(s.bands_dir).collect()}

    assert _end_state(spark, sink) == _end_state(spark, ref)
    assert bands(sink) == bands(ref)


def test_completed_batch_replay_is_a_noop(spark, sf_dir, tmp_path):
    """Full replay of a completed batch (failover redelivery under the
    same run token) is a metadata no-op — nothing re-runs, nothing
    changes, and the staging snapshot is gone."""
    sink = _mk_sink(spark, str(tmp_path / "d"))
    b1 = _batch(spark, sf_dir, 0, 200)
    sink.process_batch(b1, 0)
    state = _end_state(spark, sink)
    assert not os.path.exists(sink._stage_dir(0))  # staging cleaned up
    with open(os.path.join(sink._intake_dir(), "_last_batch")) as f:
        assert f.read() == f"{sink.run_token}:0"
    sink.process_batch(b1, 0)
    assert _end_state(spark, sink) == state


def test_non_local_store_root_fails_fast(spark, tmp_path):
    """ADVICE r6 (low): the sink's markers/staging are local-filesystem
    I/O; a remote store_root would silently write markers to a
    misleading local path and void the crash-redo protocol. Construction
    must reject non-local roots until marker I/O goes through Hadoop FS."""
    import pytest

    for bad in (
        "hdfs://nn:8020/corpus",
        "s3a://bucket/corpus",
        f"file://{tmp_path}/corpus",  # even file:// — os.path would
        # treat the URI as a relative path ("file:" dir in cwd)
    ):
        with pytest.raises(ValueError, match="local"):
            PrepIntakeSink(
                spark,
                hashes_dir=f"{tmp_path}/h",
                bands_dir=f"{tmp_path}/b",
                store_root=bad,
            )
    # plain local paths stay accepted
    PrepIntakeSink(
        spark,
        hashes_dir=f"{tmp_path}/h",
        bands_dir=f"{tmp_path}/b",
        store_root=f"{tmp_path}/ok",
    )
