"""Every registered query with an oracle must match DuckDB exactly at
sf0.001 (fast inner loop; the driver runs the same comparison at sf0.01).
"""

from __future__ import annotations

import pytest

from kinesis_spark.pins import release_shared_pins
from kinesis_spark.queries import get_registry
from tests.oracle_utils import compare, run_oracle

REGISTRY = get_registry()
WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
NO_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


@pytest.fixture(autouse=True)
def _release_pins():
    """Free each test's query pins once it has materialized them, so
    pins do not pile up across the module's parametrized queries."""
    yield
    release_shared_pins()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, sf_dir, name):
    q = REGISTRY[name]
    got = q.spark_fn(spark, sf_dir)
    want = run_oracle(q.oracle, sf_dir)
    compare(got, want, name)


@pytest.mark.parametrize("name", NO_ORACLE)
def test_query_runs(spark, sf_dir, name):
    q = REGISTRY[name]
    df = q.spark_fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_s14_no_near_dup_pair_straddles_splits(spark, sf_dir):
    """The property s14 exists for: every CAPPED MinHash candidate pair
    (d14 — the graph s14's components actually ride since r8) lands in
    ONE split — zero train/test leakage through detected near-dups.
    Pairs sharing only a hot (> MAX_BUCKET) band key are boilerplate
    collisions outside the guarantee, per s14's docstring."""
    from kinesis_spark.queries.dedup import d14_capped_lsh_pairs

    split_of = {
        r.doc_id: r.split
        for r in REGISTRY["s14_leakage_free_split"].spark_fn(spark, sf_dir).collect()
    }
    pairs = d14_capped_lsh_pairs(spark, sf_dir).collect()
    assert pairs, "fixture should contain near-dup candidates"
    for p in pairs:
        assert split_of[p.doc_a] == split_of[p.doc_b], (p.doc_a, p.doc_b)


def test_d9_candidate_seam_defaults_capped(spark, sf_dir):
    """VERDICT r7 task 2, behavioral face (d9 pins its edges, so the cap
    filter is invisible in its final plan text): (a) d9's default
    candidate set IS d14's capped relation — same components as passing
    d14 explicitly; (b) the seam works — injecting a hand-built edge
    list yields exactly its closure, proving callers can ride the
    uncapped graph when they accept its cost."""
    from kinesis_spark.queries.dedup import (
        d9_dedup_components,
        d14_capped_lsh_pairs,
    )

    default = sorted(
        map(tuple, d9_dedup_components(spark, sf_dir).collect())
    )
    explicit = sorted(
        map(
            tuple,
            d9_dedup_components(
                spark, sf_dir, candidates=d14_capped_lsh_pairs(spark, sf_dir)
            ).collect(),
        )
    )
    assert default == explicit
    # (b) injected candidates drive the closure: pick two docs that the
    # capped graph leaves in DIFFERENT components and wire them together
    comp_of = {doc: comp for doc, comp, _ in default}
    by_comp: dict[int, int] = {}
    for doc, comp, _ in default:
        by_comp.setdefault(comp, doc)
    comps = sorted(by_comp)[:2]
    assert len(comps) == 2, "fixture should have >= 2 components"
    a, b = by_comp[comps[0]], by_comp[comps[1]]
    injected = spark.createDataFrame([(a, b)], "doc_a long, doc_b long")
    joined = {
        r.doc_id: r.component
        for r in d9_dedup_components(spark, sf_dir, candidates=injected).collect()
    }
    assert joined[a] == joined[b] == min(a, b)
    assert comp_of[a] != comp_of[b]


def test_w8_fixture_timestamps_are_midnight_only(spark, sf_dir):
    """w8's RANGE frame keys on unix_date over the DATE part of
    o_orderdate (timezone-proof day arithmetic). That is lossless vs the
    oracle's second-granularity INTERVAL 30 DAY frame only while the
    fixture timestamps carry no time-of-day — pin that precondition."""
    from pyspark.sql import functions as F

    from kinesis_spark.io import load_table

    o = load_table(spark, sf_dir, "orders")
    n = o.filter(
        F.col("o_orderdate") != F.date_trunc("day", F.col("o_orderdate"))
    ).count()
    assert n == 0
