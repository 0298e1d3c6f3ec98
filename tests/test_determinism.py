"""Every registered query must be run-to-run deterministic: the driver's
correctness gate hashes values, so nondeterminism (unstable top-k ties,
RNG, partitioning-dependent output) would fail intermittently there.
Catch it here deterministically by running each query twice."""

from __future__ import annotations

import pytest

from kinesis_spark.pins import release_shared_pins
from kinesis_spark.queries import get_registry

REGISTRY = get_registry()

# Iterative/stateful queries excluded: d9's localCheckpoint materializes
# eagerly, doubling runtime for no added signal (its oracle test already
# pins the exact result).
SKIP = {"d9_dedup_components"}


@pytest.fixture(autouse=True)
def _release_pins():
    """Free each test's query pins once it has materialized them, so
    pins do not pile up across the module's parametrized queries."""
    yield
    release_shared_pins()


@pytest.mark.parametrize("name", sorted(n for n in REGISTRY if n not in SKIP))
def test_query_is_deterministic(spark, sf_dir, name):
    fn = REGISTRY[name].spark_fn
    a = sorted(map(str, fn(spark, sf_dir).collect()))
    b = sorted(map(str, fn(spark, sf_dir).collect()))
    assert a == b


def test_tokenizer_class_agrees_on_vertical_tab(spark):
    """Java's \\s includes U+000B, RE2's excludes it — the explicit
    whitespace class used by every tokenizing query must make Spark and
    DuckDB split IDENTICALLY on text containing a vertical tab (the one
    character the engines' \\s definitions disagree on)."""
    import duckdb
    from pyspark.sql import functions as F

    text = "alpha\x0bbeta gamma\tdelta\nepsilon"
    cls = r"[ \t\n\f\r\x0B]+"
    spark_toks = (
        spark.createDataFrame([(text,)], "text string")
        .select(F.split("text", cls).alias("t"))
        .first()[0]
    )
    duck_toks = duckdb.connect().execute(
        "SELECT regexp_split_to_array(?, '[ \\t\\n\\f\\r\\x0B]+')", [text]
    ).fetchone()[0]
    assert spark_toks == duck_toks == [
        "alpha", "beta", "gamma", "delta", "epsilon"
    ]
    # the old spelling is the regression this guards against
    duck_old = duckdb.connect().execute(
        "SELECT regexp_split_to_array(?, '\\s+')", [text]
    ).fetchone()[0]
    assert duck_old != spark_toks  # RE2 \s keeps \x0b inside a token


def test_symbol_class_agrees_on_vertical_tab(spark):
    """t9's symbol counter strips [A-Za-z0-9<whitespace>] with the same
    explicit class on both engines — a \\s spelling would count \\x0B as
    a symbol in DuckDB but not in Spark."""
    import duckdb
    from pyspark.sql import functions as F

    from kinesis_spark.queries import WS_CHARS

    text = "ab\x0bc! d,e\tf"
    cls = rf"[A-Za-z0-9{WS_CHARS}]"
    n_spark = (
        spark.createDataFrame([(text,)], "text string")
        .select(F.length(F.regexp_replace("text", cls, "")).alias("n"))
        .first()[0]
    )
    n_duck = duckdb.connect().execute(
        f"SELECT LENGTH(regexp_replace(?, '{cls}', '', 'g'))", [text]
    ).fetchone()[0]
    assert n_spark == n_duck == 2  # '!' and ',' only; \x0b is whitespace
    # the old \s spelling diverges: RE2 keeps \x0b (counts 3 symbols)
    n_old = duckdb.connect().execute(
        "SELECT LENGTH(regexp_replace(?, '[A-Za-z0-9\\s]', '', 'g'))", [text]
    ).fetchone()[0]
    assert n_old == 3


def test_no_bare_backslash_s_in_any_oracle():
    """No registered oracle may use RE2's \\s — Java and RE2 disagree on
    U+000B, so every whitespace class must be spelled explicitly (the
    shared WS_RE / WS_CHARS constants)."""
    for q in REGISTRY.values():
        if q.oracle:
            assert r"\s" not in q.oracle, (
                f"{q.name}: oracle uses bare \\s; use WS_RE/WS_CHARS"
            )
