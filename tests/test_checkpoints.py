"""Reliable-checkpoint behavior of the iterative family (pins.pin).

The contract under test (VERDICT r4 #1): with no checkpoint dir the
engine keeps the fast localCheckpoint path; the moment a production
submit script configures ``setCheckpointDir`` every pin in the
iterative family switches to replicated reliable checkpoints — bit-for-
bit the same results, but an executor loss no longer kills the query.
"""

from __future__ import annotations

import contextlib
import os

import pytest

from kinesis_spark.pins import pin, pin_lazy, release_shared_pins


@contextlib.contextmanager
def _checkpoint_dir(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None, "test requires a pristine session"
    d = str(tmp_path / "reliable-ckpt")
    sc.setCheckpointDir(d)
    try:
        yield d
    finally:
        # SparkContext has no public unset; the Scala var setter is the
        # supported reflection path (private[spark] var checkpointDir).
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None


def _ckpt_rdd_count(root: str) -> int:
    n = 0
    for _, dirs, _ in os.walk(root):
        n += sum(1 for d in dirs if d.startswith("rdd-"))
    return n


def test_pin_is_local_without_dir(spark):
    df = spark.range(100).transform(pin)
    dbg = df.rdd.toDebugString().decode()
    assert "ReliableCheckpointRDD" not in dbg
    assert df.count() == 100


def test_pin_goes_reliable_with_dir(spark, tmp_path):
    with _checkpoint_dir(spark, tmp_path) as d:
        df = spark.range(100).transform(pin)
        assert "ReliableCheckpointRDD" in df.rdd.toDebugString().decode()
        assert df.count() == 100
        assert _ckpt_rdd_count(d) == 1
        lazy = spark.range(7).transform(pin_lazy)
        assert lazy.count() == 7  # materializes on first action
        assert _ckpt_rdd_count(d) == 2
        release_shared_pins()
        assert _ckpt_rdd_count(d) == 0  # the release deletes the files too


def test_g1_pagerank_survivable_checkpoints(spark, sf_dir, tmp_path):
    """g1 under a configured checkpoint dir: every pinned relation is a
    reliable checkpoint (no unreplicated LocalCheckpointRDD blocks left
    in the lineage), and ranks are bit-identical to the local-pin run.
    """
    from kinesis_spark.queries.graph import PR_ITERS, g1_pagerank_trade_graph

    baseline = sorted(map(tuple, g1_pagerank_trade_graph(spark, sf_dir).collect()))
    with _checkpoint_dir(spark, tmp_path) as d:
        out = g1_pagerank_trade_graph(spark, sf_dir)
        dbg = out.rdd.toDebugString().decode()
        assert "ReliableCheckpointRDD" in dbg
        assert "LocalCheckpointRDD" not in dbg
        got = sorted(map(tuple, out.collect()))
        # the MUTABLE state only: intermediate rounds' ranks pinned (the
        # last round is consumed exactly once and deliberately unpinned).
        # The STATIC edge relation is pin_shared (persist) — recomputable
        # from its full lineage on executor loss, so it must NOT burn a
        # checkpoint; N derives from it, no separate nodes pin
        # (OPTIMIZATION r11).
        assert _ckpt_rdd_count(d) >= PR_ITERS - 1
    assert got == baseline


def test_d9_components_survivable_checkpoints(spark, sf_dir, tmp_path):
    from kinesis_spark.queries.dedup import d9_dedup_components

    baseline = sorted(map(tuple, d9_dedup_components(spark, sf_dir).collect()))
    with _checkpoint_dir(spark, tmp_path) as d:
        out = d9_dedup_components(spark, sf_dir)
        got = sorted(map(tuple, out.collect()))
        assert "LocalCheckpointRDD" not in out.rdd.toDebugString().decode()
        assert _ckpt_rdd_count(d) >= 1
    assert got == baseline
