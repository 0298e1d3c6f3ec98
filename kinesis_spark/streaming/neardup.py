"""Streaming near-duplicate detection: MinHash+LSH banding computed as
pure projections (streaming-safe — no aggregation before the stateful
op), with an ``applyInPandasWithState`` bucket memory that remembers the
canonical (first-seen, then lowest doc_id) member of every LSH bucket
across micro-batches and flags later arrivals as candidate duplicates.

This is the streaming form of the batch ``d3_minhash_lsh_pairs``
operator (kinesis_spark/queries/dedup.py): same 8 MinHashes over word
3-shingles, same 4 bands x 2 rows. The batch form discovers candidates
with a band equi-join; the streaming form replaces the join with
per-bucket state, so a document arriving today is checked against
everything seen since the query started — the shape an always-on
training-data intake needs (the batch join would re-scan history every
time).

Scale notes:
- The signature pipeline is kinesis_spark/minhash.py's, projection +
  Generate only.
- State is one long per bucket (the canonical doc_id), keyed by the
  64-hex-char band key: bounded by the number of distinct buckets, not
  by corpus size, and each bucket's state is touched only when a new
  member arrives (shuffle on band_key, the same key the batch join
  shuffles on).
- Emitted rows are CANDIDATES (band collision), exactly like d3; exact
  verification (d4's Jaccard rescoring) composes downstream on the
  candidate stream.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_spark.minhash import (
    MH_COLS,
    MINHASH_MIN_WORDS,
    SHINGLES,
    band_key_array,
    signatures,
)
from kinesis_spark.queries import WS_RE

CANDIDATE_SCHEMA = T.StructType(
    [
        T.StructField("band_key", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("dup_of", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType([T.StructField("canon", T.LongType())])


def with_band_keys(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``docs`` plus ``__bk``: the array of each doc's MinHash band keys,
    null for a doc under MINHASH_MIN_WORDS tokens. Projection + Generate
    only, so it works identically on batch and streaming DataFrames."""
    tokd = docs.withColumn("__toks", F.explode(F.array(F.split(text_col, WS_RE))))
    # the gate guards the shingle sequence too: under k tokens it would
    # index element 0
    gate = F.size("__toks") >= MINHASH_MIN_WORDS
    return (
        signatures(tokd, "__toks", keep=docs.columns, gate=gate)
        .withColumn("__bk", band_key_array(gated=True))
        .drop(SHINGLES, *MH_COLS)
    )


def band_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, band_key) pairs of ``docs`` (doc_id, text)."""
    return with_band_keys(docs).select("doc_id", F.explode("__bk").alias("band_key"))


def _bucket_memory_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state
) -> Iterator[pd.DataFrame]:
    """Per-bucket canonical memory: the first batch to touch a bucket
    elects its lowest doc_id as canonical; every other member (in this
    and all later batches) is emitted as a candidate duplicate of it."""
    members = sorted(
        {int(x) for pdf in pdfs for x in pdf["doc_id"].tolist()}
    )
    canon = int(state.get[0]) if state.exists else members[0]
    dups = [m for m in members if m != canon]
    state.update((canon,))
    if dups:
        yield pd.DataFrame(
            {"band_key": [key[0]] * len(dups), "doc_id": dups, "dup_of": canon}
        )


def streaming_near_dup_candidates(docs: DataFrame) -> DataFrame:
    """Streaming candidate near-dup pairs: (band_key, doc_id, dup_of)
    rows, one per band collision with the bucket's canonical document.
    A document colliding in several bands emits several rows (same as
    d3 before its DISTINCT); downstream verification dedups."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return band_keys(docs).groupBy("band_key").applyInPandasWithState(
        _bucket_memory_fn,
        outputStructType=CANDIDATE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
