"""Streaming MinHash+LSH near-dup detection (streaming/neardup.py):
batch parity for a single trigger, and cross-batch bucket memory for the
two-trigger case — both against an exact pandas simulation of the
canonical-member contract."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kinesis_spark.streaming.analytics import run_to_completion
from kinesis_spark.streaming.neardup import band_keys, streaming_near_dup_candidates


@pytest.fixture(scope="module")
def docs_dir(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("docs_stream")
    shutil.copy(f"{sf_dir}/documents.parquet", d / "part-000.parquet")
    return str(d)


@pytest.fixture(scope="module")
def docs_two_batches(spark, sf_dir, tmp_path_factory):
    """Batch 1: the corpus. Batch 2: the same docs lightly perturbed with
    shifted ids — every batch-2 doc should collide with its batch-1
    original in most bands. mtimes force file order (the file source
    processes oldest first)."""
    d = tmp_path_factory.mktemp("docs_stream2")
    f1, f2 = str(d / "part-000.parquet"), str(d / "part-001.parquet")
    shutil.copy(f"{sf_dir}/documents.parquet", f1)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    perturbed = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" zzz")).alias("text"),
        "lang",
        "source",
        "n_chars",
    ).toPandas()
    perturbed.to_parquet(f2, index=False)
    now = os.path.getmtime(f2)
    os.utime(f1, (now - 100, now - 100))
    return str(d)


def _stream_docs(spark, d, max_files_per_trigger=None):
    schema = spark.read.parquet(d).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(d)


def _simulate(batches: list[pd.DataFrame]) -> set[tuple[str, int, int]]:
    """The contract, in pandas: first batch to touch a bucket elects its
    min doc_id canonical; every other member of that bucket (then and
    later) is emitted against it."""
    canon: dict[str, int] = {}
    out: set[tuple[str, int, int]] = set()
    for bands in batches:
        for band_key, grp in bands.groupby("band_key"):
            members = sorted(set(int(x) for x in grp["doc_id"]))
            c = canon.setdefault(band_key, members[0])
            out.update((band_key, m, c) for m in members if m != c)
    return out


@pytest.mark.streaming
def test_single_trigger_matches_batch_banding(spark, docs_dir):
    got = run_to_completion(
        streaming_near_dup_candidates(_stream_docs(spark, docs_dir)),
        output_mode="update",
        query_name="neardup_one",
    )
    got_rows = {
        (r["band_key"], r["doc_id"], r["dup_of"]) for r in got.collect()
    }
    batch_bands = band_keys(spark.read.parquet(docs_dir)).toPandas()
    assert got_rows == _simulate([batch_bands])
    assert len(got_rows) > 0  # the fixture corpus has near-dup groups


@pytest.mark.streaming
def test_cross_batch_bucket_memory(spark, docs_two_batches):
    got = run_to_completion(
        streaming_near_dup_candidates(
            _stream_docs(spark, docs_two_batches, max_files_per_trigger=1)
        ),
        output_mode="update",
        query_name="neardup_two",
    )
    got_rows = {
        (r["band_key"], r["doc_id"], r["dup_of"]) for r in got.collect()
    }
    f1 = os.path.join(docs_two_batches, "part-000.parquet")
    f2 = os.path.join(docs_two_batches, "part-001.parquet")
    b1 = band_keys(spark.read.parquet(f1)).toPandas()
    b2 = band_keys(spark.read.parquet(f2)).toPandas()
    want = _simulate([b1, b2])
    assert got_rows == want
    # the memory actually crossed batches: batch-2 docs flagged against
    # batch-1 canonicals
    assert any(doc >= 100000 and dup < 100000 for _, doc, dup in got_rows)


def test_band_keys_match_batch_d3_signatures(spark, sf_dir):
    """The projection-only signature pipeline equals the batch twin's
    explode + groupBy-min (d3) bucket for bucket, and its per-doc band-key
    sets equal the DuckDB ``bands`` CTE of the same kernel."""
    from kinesis_spark.io import load_table
    from kinesis_spark.minhash import (
        MIN_WORDS_SQL,
        N_HASHES,
        _shingles_of,
        _tokens_barrier,
        sigs_bands_sql,
    )
    from tests.oracle_utils import run_oracle

    docs = load_table(spark, sf_dir, "documents")
    got = band_keys(docs).toPandas()
    tokd = _tokens_barrier(docs, min_words=3)
    exploded = tokd.select("doc_id", F.explode(_shingles_of(F.col("toks"))).alias("s"))
    sigs = exploded.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{seed}#"), F.col("s")))).alias(f"mh{seed}")
            for seed in range(N_HASHES)
        ]
    )
    want = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws("|", f"mh{2 * b}", f"mh{2 * b + 1}")
                    for b in range(N_HASHES // 2)
                ]
            )
        ).alias("band_key"),
    ).toPandas()
    key = lambda df: sorted(map(tuple, df[["doc_id", "band_key"]].values.tolist()))  # noqa: E731
    assert key(got) == key(want)

    def per_doc(df):
        out: dict[int, set[str]] = {}
        for doc, bk in df[["doc_id", "band_key"]].values.tolist():
            out.setdefault(int(doc), set()).add(bk)
        return out

    duck = run_oracle(
        f"WITH {sigs_bands_sql('documents', MIN_WORDS_SQL)} "
        "SELECT doc_id, band_key FROM bands",
        sf_dir,
    )
    assert len(duck) > 0
    assert per_doc(got) == per_doc(duck)
