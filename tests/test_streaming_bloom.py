"""Durable bloom-index streaming dedup (streaming/bloom_dedup.py):
multi-batch parity with batch keep-first dedup, cross-restart state,
and replay idempotence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_spark.streaming.bloom_dedup import BloomDedupSink, start_bloom_dedup


@pytest.fixture(scope="module")
def chunked_docs(spark, sf_dir, tmp_path_factory):
    """Documents split into three doc_id-ordered files, with every doc of
    the LAST chunk also duplicated (new ids) into it — so dups exist
    both across batches (chunk 3 repeats chunk 1 texts) and within one.
    File mtimes force chunk order = doc_id order."""
    import os

    d = tmp_path_factory.mktemp("bloom_stream")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    c1 = docs.filter(F.col("doc_id") % 3 == 0)
    c2 = docs.filter(F.col("doc_id") % 3 == 1)
    # chunk 3: its own docs + copies of chunk-1 texts under fresh ids
    dup = c1.select(
        (F.col("doc_id") + 10 * n).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    c3 = docs.filter(F.col("doc_id") % 3 == 2).unionByName(dup)
    paths = []
    for i, c in enumerate([c1, c2, c3]):
        p = str(d / f"chunk-{i}")
        c.coalesce(1).write.mode("overwrite").parquet(p)
        paths.append(p)
    files = []
    import glob
    import shutil

    out = tmp_path_factory.mktemp("bloom_stream_files")
    for i, p in enumerate(paths):
        src = glob.glob(f"{p}/part-*.parquet")[0]
        dst = str(out / f"part-{i:03d}.parquet")
        shutil.copy(src, dst)
        files.append(dst)
    base = os.path.getmtime(files[-1])
    for i, f in enumerate(files):
        os.utime(f, (base + i, base + i))
    return str(out)


def _stream(spark, d, mfpt=1):
    schema = spark.read.parquet(d).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", mfpt)
        .parquet(d)
    )


@pytest.mark.streaming
def test_bloom_dedup_stream_matches_batch_keep_first(
    spark, chunked_docs, tmp_path
):
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    q = start_bloom_dedup(
        spark,
        _stream(spark, chunked_docs),
        state,
        out,
        str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    docs = spark.read.parquet(chunked_docs).withColumn("h", F.sha2("text", 256))
    # batches arrive in doc_id-block order and the sink keeps min-id
    # within a batch, so global winner per hash = global min doc_id
    want = (
        docs.groupBy("h").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    got_ids = sorted(r[0] for r in got.select("doc_id").collect())
    want_ids = sorted(r[0] for r in want.collect())
    assert got_ids == want_ids
    # every admitted hash exactly once
    n_hashes = spark.read.parquet(f"{state}/hashes").count()
    assert n_hashes == len(want_ids)
    assert (
        spark.read.parquet(f"{state}/hashes").distinct().count() == n_hashes
    )


@pytest.mark.streaming
def test_bloom_dedup_replay_is_idempotent(spark, chunked_docs, tmp_path):
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    sink = BloomDedupSink(spark, state, out, run_token="adhoc")
    batch = spark.read.parquet(chunked_docs)
    sink.process_batch(batch, 0)
    n1 = spark.read.parquet(out).count()
    h1 = spark.read.parquet(f"{state}/hashes").count()
    sink.process_batch(batch, 0)  # replay: must be a no-op
    assert spark.read.parquet(out).count() == n1
    assert spark.read.parquet(f"{state}/hashes").count() == h1
    # a NEW batch of the same rows is all-dup: nothing admitted
    sink.process_batch(batch, 1)
    assert spark.read.parquet(out).count() == n1


@pytest.mark.streaming
def test_bloom_dedup_state_survives_new_sink(spark, chunked_docs, tmp_path):
    """A fresh sink instance (restart analog) sees the durable index and
    rejects previously admitted texts."""
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    batch = spark.read.parquet(chunked_docs)
    BloomDedupSink(spark, state, out).process_batch(batch, 0)
    n1 = spark.read.parquet(out).count()
    BloomDedupSink(spark, state, out).process_batch(batch, 7)
    assert spark.read.parquet(out).count() == n1


@pytest.mark.streaming
def test_bloom_dedup_new_run_token_is_not_a_replay(spark, chunked_docs, tmp_path):
    """A marker from run A must not swallow run B's batch 0 (new
    checkpoint => batch ids restart => different data, same numbering)."""
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    docs = spark.read.parquet(chunked_docs)
    first = docs.filter(F.col("doc_id") % 3 == 0)
    rest = docs.filter(F.col("doc_id") % 3 != 0)
    BloomDedupSink(spark, state, out, run_token="runA").process_batch(first, 5)
    n1 = spark.read.parquet(out).count()
    # run B starts over at batch 0 with NEW data: must be processed
    BloomDedupSink(spark, state, out, run_token="runB").process_batch(rest, 0)
    n2 = spark.read.parquet(out).count()
    assert n2 > n1
    # and run B's own replay of batch 0 is still a no-op
    BloomDedupSink(spark, state, out, run_token="runB").process_batch(rest, 0)
    assert spark.read.parquet(out).count() == n2


@pytest.mark.streaming
def test_bloom_dedup_boot_token_coherent_within_batch(
    spark, chunked_docs, tmp_path
):
    """When checkpoint metadata is unreadable the token falls back to a
    per-call boot nonce — but within ONE process_batch the output subdir,
    the hash-store subdir, and the committed marker must all carry the
    SAME token, or a replay's own-hash exclusion filter can't recognize
    its first attempt's partial writes."""
    import os

    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt_without_metadata"
    ckpt.mkdir()
    sink = BloomDedupSink(spark, state, out, checkpoint_dir=str(ckpt))
    batch = spark.read.parquet(chunked_docs)
    sink.process_batch(batch, 0)
    out_keys = {
        d.split("=", 1)[1]
        for d in os.listdir(out)
        if d.startswith("ingest_batch=")
    }
    hash_keys = {
        d.split("=", 1)[1]
        for d in os.listdir(f"{state}/hashes")
        if d.startswith("ingest_batch=")
    }
    with open(f"{state}/_last_batch") as f:
        marker = f.read().strip()
    assert len(out_keys) == 1 and out_keys == hash_keys
    (key,) = out_keys
    token, _, bid = key.rpartition("-")
    assert marker == f"{token}:{bid}" == f"{token}:0"


@pytest.mark.streaming
def test_bloom_dedup_boot_token_stable_across_attempts(
    spark, chunked_docs, tmp_path
):
    """A replay ATTEMPT (new sink instance, same checkpoint) must resolve
    the SAME token as the crashed first attempt even when the checkpoint
    metadata was unreadable at both — otherwise the replay's own-hash
    exclusion cannot recognize the first attempt's partial hash subdir
    and its rows are masked as already admitted (row loss)."""
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt_without_metadata"
    ckpt.mkdir()
    batch = spark.read.parquet(chunked_docs)
    s1 = BloomDedupSink(spark, state, out, checkpoint_dir=str(ckpt))
    t1 = s1.run_token
    s1.process_batch(batch, 0)
    n1 = spark.read.parquet(out).count()
    # crash analog: fresh instance, metadata STILL unreadable
    s2 = BloomDedupSink(spark, state, out, checkpoint_dir=str(ckpt))
    assert s2.run_token == t1
    s2.process_batch(batch, 0)  # replay: same token => marker no-op
    assert spark.read.parquet(out).count() == n1
    # once Spark writes the real metadata, the sidecar still wins —
    # switching tokens mid-run would orphan the first attempts' subdirs
    (ckpt / "metadata").write_text('{"id": "deadbeefdeadbeef"}')
    s3 = BloomDedupSink(spark, state, out, checkpoint_dir=str(ckpt))
    assert s3.run_token == t1
    # a RECREATED checkpoint is a new run: fresh token
    import shutil as _shutil

    _shutil.rmtree(ckpt)
    ckpt.mkdir()
    s4 = BloomDedupSink(spark, state, out, checkpoint_dir=str(ckpt))
    assert s4.run_token != t1


@pytest.mark.streaming
def test_bloom_dedup_replay_after_partial_write(spark, chunked_docs, tmp_path):
    """Crash between the hash write and the marker: the replay must not
    count its own partial hashes as prior admissions (no row loss) and
    must not duplicate output rows (overwrite, not append)."""
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    docs = spark.read.parquet(chunked_docs)
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    sink = BloomDedupSink(spark, state, out, run_token="adhoc")
    sink.process_batch(b0, 0)
    # simulate batch 1's first attempt dying after the hash write but
    # before the marker: its hashes exist, out rows exist, marker says 0
    b1h = b1.withColumn("h", F.sha2("text", 256)).select("h")
    b1h.write.mode("overwrite").parquet(f"{state}/hashes/ingest_batch=adhoc-1")
    b1.write.mode("overwrite").parquet(f"{out}/ingest_batch=adhoc-1")
    sink.process_batch(b1, 1)  # the replay
    got = spark.read.parquet(out)
    want_n = b0.count() + b1.count()  # no cross-chunk dups in these two
    assert got.count() == want_n
    assert got.select("doc_id").distinct().count() == want_n


@pytest.mark.streaming
def test_bloom_dedup_bitmap_rebuilds_from_hash_store(spark, chunked_docs, tmp_path):
    """Losing the bitmap (crash mid-swap) must degrade to a rebuild from
    the hash store — previously admitted texts are still rejected."""
    import shutil as _sh

    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    docs = spark.read.parquet(chunked_docs)
    sink = BloomDedupSink(spark, state, out, run_token="adhoc")
    sink.process_batch(docs, 0)
    n1 = spark.read.parquet(out).count()
    _sh.rmtree(f"{state}/bloom")
    sink.process_batch(docs, 1)  # all dups; bitmap must rebuild, not admit
    assert spark.read.parquet(out).count() == n1


@pytest.mark.streaming
def test_bloom_dedup_recreated_checkpoint_is_new_run(spark, chunked_docs, tmp_path):
    """The run token shares the checkpoint's LIFECYCLE (sidecar file
    inside the checkpoint dir, seeded from the query id): recreating the
    checkpoint directory (rm -rf + new query id, batch ids restart) must
    NOT let the old marker swallow the new run's batch 0."""
    import json
    import shutil as _shutil

    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "metadata").write_text(json.dumps({"id": "aaaaaaaaaaaaaaaa"}))
    docs = spark.read.parquet(chunked_docs)
    first = docs.filter(F.col("doc_id") % 3 == 0)
    rest = docs.filter(F.col("doc_id") % 3 != 0)
    s1 = BloomDedupSink(spark, state, out, checkpoint_dir=str(ckpt))
    s1.process_batch(first, 5)
    n1 = spark.read.parquet(out).count()
    # same checkpoint, replay of batch 5: no-op
    BloomDedupSink(spark, state, out, checkpoint_dir=str(ckpt)).process_batch(
        first, 5
    )
    assert spark.read.parquet(out).count() == n1
    # checkpoint RECREATED (the directory, as rm -rf does — the sidecar
    # token dies with it) -> new query id -> batch 0 is NEW data
    _shutil.rmtree(ckpt)
    ckpt.mkdir()
    (ckpt / "metadata").write_text(json.dumps({"id": "bbbbbbbbbbbbbbbb"}))
    BloomDedupSink(spark, state, out, checkpoint_dir=str(ckpt)).process_batch(
        rest, 0
    )
    assert spark.read.parquet(out).count() > n1


@pytest.mark.streaming
def test_bloom_dedup_rerun_of_committed_batch_behind_dropduplicates(
    spark, chunked_docs, tmp_path
):
    """A restart that re-runs a batch the sink already committed (its
    entry in the checkpoint's commit log lost) must still consume the
    batch: the upstream dropDuplicates commits its state-store version
    only when the batch's plan runs. The second drain completes and
    admits nothing new."""
    import glob
    import os

    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_bloom_dedup(
            spark,
            _stream(spark, chunked_docs).dropDuplicates(["doc_id"]),
            state,
            out,
            ckpt,
            trigger_available_now=True,
        )
        assert q.awaitTermination(120)
        assert q.exception() is None

    drain()
    n1 = spark.read.parquet(out).count()
    last = max(int(os.path.basename(p)) for p in glob.glob(f"{ckpt}/commits/[0-9]*"))
    os.remove(f"{ckpt}/commits/{last}")
    os.remove(f"{ckpt}/commits/.{last}.crc")
    drain()
    assert sorted(int(os.path.basename(p)) for p in glob.glob(f"{ckpt}/commits/[0-9]*"))[-1] == last
    assert spark.read.parquet(out).count() == n1
