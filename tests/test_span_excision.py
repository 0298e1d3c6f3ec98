"""d18 semantics on planted duplicates: the oracle gate proves Spark and
DuckDB agree; these tests prove the AGREED answer is the intended one —
the canonical (first) occurrence survives byte-identical and every other
occurrence loses exactly its span."""

from __future__ import annotations

import hashlib

import pytest

from kinesis_spark.queries import get_registry

REGISTRY = get_registry()


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    """A documents table with known duplicate 4-token windows:
    cross-document (docs 1->2), within-document (doc 4), and two
    untouched controls (docs 1, 3)."""
    sf = str(tmp_path_factory.mktemp("d18sf"))
    rows = [
        (1, "A B C D E F", "en", "s", 11),
        (2, "X Y A B C D Q", "en", "s", 13),
        (3, "P Q R S", "en", "s", 7),
        (4, "M N O P M N O P", "en", "s", 15),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    return sf


def test_planted_spans_excised_exactly(spark, planted):
    got = {
        r.doc_id: r
        for r in REGISTRY["d18_dup_span_excision"].spark_fn(spark, planted).collect()
    }
    # doc 1: canonical occurrence of "A B C D" — survives untouched
    assert (got[1].n_cut_starts, got[1].n_removed) == (0, 0)
    assert got[1].clean_md5 == _md5("A B C D E F")
    # doc 2: its "A B C D" at token 3 is the SECOND occurrence — the
    # 4-token span is cut, the flanks survive in order
    assert (got[2].n_cut_starts, got[2].n_removed) == (1, 4)
    assert got[2].clean_md5 == _md5("X Y Q")
    # doc 3: no duplicated window anywhere — untouched control
    assert (got[3].n_cut_starts, got[3].n_removed) == (0, 0)
    assert got[3].clean_md5 == _md5("P Q R S")
    # doc 4: within-document repeat "M N O P" at 1 and 5 — first kept,
    # second span cut
    assert (got[4].n_cut_starts, got[4].n_removed) == (1, 4)
    assert got[4].clean_md5 == _md5("M N O P")


def test_excision_matches_oracle_on_planted(spark, planted):
    """The planted corpus also round-trips the DuckDB oracle — the gate
    holds off the driver fixtures too (guards the tokenizer/position
    idioms against engine drift on inputs the big corpus never hits,
    e.g. a doc that is exactly one window long)."""
    import duckdb

    from tests.oracle_utils import compare

    q = REGISTRY["d18_dup_span_excision"]
    con = duckdb.connect()
    try:
        # only the documents view: the planted dir has no other tables
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{planted}/documents.parquet/*.parquet')"
        )
        want = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    compare(q.spark_fn(spark, planted), want, "d18-planted")


@pytest.fixture(scope="module")
def planted_split(spark, tmp_path_factory):
    """Corpus/batch split for p9 (doc_id % 10): the corpus owns the
    canonical "A B C D"; batch doc 10 carries it (must be cut even as
    the FIRST batch occurrence), batch doc 20 repeats a window within
    the batch, batch doc 30 is untouched."""
    sf = str(tmp_path_factory.mktemp("p9sf"))
    rows = [
        (1, "A B C D E F", "en", "s", 11),     # corpus (canonical)
        (3, "P Q R S", "en", "s", 7),          # corpus, unrelated
        (10, "X Y A B C D Q", "en", "s", 13),  # batch: corpus-dup span
        (20, "M N O P M N O P", "en", "s", 15),  # batch: within-batch dup
        (30, "U V W Z", "en", "s", 7),         # batch: untouched
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    return sf


def test_p9_incremental_excision_semantics(spark, planted_split):
    got = {
        r.doc_id: r
        for r in REGISTRY["p9_incremental_span_excision"]
        .spark_fn(spark, planted_split)
        .collect()
    }
    assert set(got) == {10, 20, 30}  # batch docs only — corpus never rewritten
    # corpus holds the canonical "A B C D": the batch's FIRST occurrence
    # is still cut (unlike d18's global first-keeps rule)
    assert (got[10].n_cut_starts, got[10].n_removed) == (1, 4)
    assert got[10].clean_md5 == _md5("X Y Q")
    # within-batch repeat: first batch occurrence kept
    assert (got[20].n_cut_starts, got[20].n_removed) == (1, 4)
    assert got[20].clean_md5 == _md5("M N O P")
    assert (got[30].n_cut_starts, got[30].n_removed) == (0, 0)
    assert got[30].clean_md5 == _md5("U V W Z")


def test_p9_zero_corpus_scans(spark, planted_split):
    """With the gram index bootstrapped, the recurring per-batch plan
    reads documents exactly once (the batch slice) — the corpus enters
    only through the persisted gram relation."""
    import contextlib
    import io

    q = REGISTRY["p9_incremental_span_excision"]
    q.spark_fn(spark, planted_split).collect()  # bootstrap the index
    df = q.spark_fn(spark, planted_split)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("documents.parquet") == 1
    assert "grams" in plan


def test_gram_index_append_makes_next_batch_see_prior_batches(spark, tmp_path):
    """The day-over-day loop: bootstrap from the corpus, excise batch 1,
    APPEND batch 1's grams, then batch 2 — which shares a window with
    batch 1 but not with the corpus — gets that window cut. Without the
    append, batch 2 would sail through untouched."""
    from kinesis_spark.prep_index import (
        append_gram_index,
        build_gram_index,
        incremental_span_excision,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    idx = str(tmp_path / "gramidx")
    build_gram_index(spark, docs([(1, "A B C D E F")]), idx)

    batch1 = docs([(10, "K L M N O P")])
    r1 = {r.doc_id: r for r in incremental_span_excision(spark, batch1, idx).collect()}
    assert (r1[10].n_cut_starts, r1[10].n_removed) == (0, 0)  # nothing shared yet
    appended = append_gram_index(spark, batch1, idx)
    assert appended == 3  # the 3 windows of a 6-token doc

    # re-append is harmless (crash-redo discipline): zero new hashes
    assert append_gram_index(spark, batch1, idx) == 0

    batch2 = docs([(20, "X K L M N Z")])  # shares "K L M N" with batch 1 only
    r2 = {r.doc_id: r for r in incremental_span_excision(spark, batch2, idx).collect()}
    assert (r2[20].n_cut_starts, r2[20].n_removed) == (1, 4)
    assert r2[20].clean_md5 == _md5("X Z")


def test_gram_index_append_frees_its_pin_when_the_write_fails(
    spark, tmp_path, monkeypatch
):
    """The append pins its new-key relation for count + write; a write
    that raises must not leave that pin stored."""
    from pyspark.sql.readwriter import DataFrameWriter

    from kinesis_spark.prep_index import append_gram_index, build_gram_index

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    idx = str(tmp_path / "gramidx")
    build_gram_index(spark, docs([(1, "A B C D E F")]), idx)
    stored = spark.sparkContext._jsc.sc().getRDDStorageInfo
    before = len(stored())

    def fail(self, *args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(DataFrameWriter, "parquet", fail)
    with pytest.raises(OSError, match="disk full"):
        append_gram_index(spark, docs([(10, "K L M N O P")]), idx)
    assert len(stored()) == before
