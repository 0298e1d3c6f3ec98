"""Streaming twin of the flagship batch prep pipeline
(``p1_llm_prep_pipeline``): the same gate → exact dedup → near-dup
stages as an always-on intake, with cross-batch state instead of batch
joins.

Two stateful operators CHAIN inside one streaming query (Spark 4
supports this): streaming ``dropDuplicates`` on the content hash keeps
one row per distinct text across ALL micro-batches (state = seen
hashes), and the MinHash-LSH bucket memory (streaming/neardup.py) then
flags later near-duplicates of anything that survived exact dedup.

Outputs are two composable streams rather than one joined result —
stream-stream anti-joins of a stream against its own derivative are not
expressible, so the intake emits (a) the exact-dedup survivor stream
and (b) the near-dup candidate flags; the consumer drops flagged
doc_ids at its sink (one anti-join per downstream batch, exactly what
the batch p1 does with its window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_spark.queries import WS_RE
from kinesis_spark.queries.pipelines import _KEEP_LANGS, _MIN_TOKENS
from kinesis_spark.streaming.neardup import streaming_near_dup_candidates


def gate(docs: DataFrame) -> DataFrame:
    """The p1 language + min-token quality gate, streaming-safe (pure
    filter)."""
    return docs.filter(
        F.col("lang").isin(*_KEEP_LANGS)
        & (F.size(F.split("text", WS_RE)) >= _MIN_TOKENS)
    )


def exact_dedup_stream(docs: DataFrame) -> DataFrame:
    """Cross-batch exact dedup: first arrival of each content hash
    passes, every later copy (same or later micro-batch) is dropped.
    State is one 64-hex key per distinct document."""
    return (
        gate(docs)
        .withColumn("h", F.sha2("text", 256))
        .dropDuplicates(["h"])
        .drop("h")
    )


def near_dup_flags_stream(docs: DataFrame) -> DataFrame:
    """The full chained intake: gate → stateful exact dedup → stateful
    MinHash-LSH bucket memory. Emits (band_key, doc_id, dup_of)
    candidate rows for every near-duplicate of an exact-dedup survivor
    seen so far."""
    return streaming_near_dup_candidates(exact_dedup_stream(docs))
