"""The production intake sink's admission step
(``PrepIntakeSink._admit``, streaming/intake.py): the expected admitted
ids of each rule on a hand-built batch, and the plan of the one-pass
form — the batch scanned once, one MinHash signature per document, and
no index-side work when an index does not exist yet."""

from __future__ import annotations

import contextlib
import hashlib
import io

from kinesis_spark.minhash import N_HASHES
from kinesis_spark.streaming.intake import PrepIntakeSink
from kinesis_spark.streaming.neardup import band_keys

SCHEMA = "doc_id long, text string, lang string, source string"


def _text(tag: str) -> str:
    """Five words no other tag shares, so unrelated docs share no band."""
    return " ".join(f"{w}{tag}" for w in ("alpha", "beta", "gamma", "delta", "eps"))


# (doc_id, text); a tab or a doubled space changes the content hash
# but not the tokens, so such a twin has exactly the original's keys
DOCS = [
    (11, _text("dup")),  # in-batch exact duplicate of 10: the lower id wins
    (10, _text("dup")),
    (20, _text("stored")),  # its hash is in the hash store
    (30, _text("indexed").replace(" ", "\t")),  # its keys are in the band index
    (41, _text("near").replace(" ", "  ")),  # shares every key with 40
    (40, _text("near")),
    (50, "hi there"),  # under 3 tokens: no keys, admitted
    (51, "hello world"),  # keyless docs never collide with each other
    (60, _text("fresh")),
]
ADMITTED = {10, 40, 50, 51, 60}


def _sink(spark, work: str) -> PrepIntakeSink:
    return PrepIntakeSink(
        spark,
        hashes_dir=f"{work}/index/hashes",
        bands_dir=f"{work}/index/bands",
        store_root=f"{work}/corpus_tx",
    )


def _batch(spark, work: str):
    """The docs as a parquet scan, so the plan names the batch's path."""
    path = f"{work}/batch"
    spark.createDataFrame(
        [(i, t, "en", "web") for i, t in DOCS], SCHEMA
    ).write.parquet(path)
    return spark.read.parquet(path), path


def _seed_indexes(spark, sink) -> None:
    stored = hashlib.sha256(_text("stored").encode()).hexdigest()
    spark.createDataFrame([(stored,)], "h string").write.parquet(sink.hashes_dir)
    band_keys(
        spark.createDataFrame([(1, _text("indexed"))], "doc_id long, text string")
    ).select("band_key").write.parquet(sink.bands_dir)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_admit_rules(spark, tmp_path):
    sink = _sink(spark, str(tmp_path))
    _seed_indexes(spark, sink)
    batch, _ = _batch(spark, str(tmp_path))
    rows = {r.doc_id: r for r in sink._admit(batch).collect()}
    assert set(rows) == ADMITTED
    # the snapshot columns: the batch's, the content hash, the band keys
    assert list(next(iter(rows.values())).asDict()) == [
        *batch.columns, "__h", "__bk"
    ]
    assert rows[60]["__h"] == hashlib.sha256(_text("fresh").encode()).hexdigest()
    want = {
        r.band_key
        for r in band_keys(
            spark.createDataFrame([(60, _text("fresh"))], "doc_id long, text string")
        ).collect()
    }
    assert set(rows[60]["__bk"]) == want and len(rows[60]["__bk"]) == len(want)
    assert rows[50]["__bk"] is None and rows[51]["__bk"] is None


def test_admit_scans_batch_once_and_signs_once(spark, tmp_path):
    sink = _sink(spark, str(tmp_path))
    _seed_indexes(spark, sink)
    batch, path = _batch(spark, str(tmp_path))
    plan = _plan(sink._admit(batch))
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert sum(path + "]" in ln for ln in scans) == 1, plan
    assert len(scans) == 3, plan  # the batch, the hash store, the band index
    assert plan.count("array_min(") == N_HASHES, plan


def test_missing_index_adds_no_scan_or_exchange(spark, tmp_path):
    """No hash store and no band index yet: both joins fold away, so the
    plan keeps one scan (the batch) and the three batch-side shuffles
    (hash window, band window, doc window)."""
    sink = _sink(spark, str(tmp_path))
    batch, _ = _batch(spark, str(tmp_path))
    plan = _plan(sink._admit(batch))
    assert plan.count("FileScan") == 1, plan
    assert "Range" not in plan and "ExistingRDD" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert "Join" not in plan, plan
    assert {r.doc_id for r in sink._admit(batch).collect()} == ADMITTED | {20, 30}
