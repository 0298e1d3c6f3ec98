"""Fixed-size payload chunking.

Reference semantics (kinesis/kinesis.go:244-268): split a payload into
``chunk_size``-byte chunks, last chunk = remainder. The reference emits one
*empty* chunk for an empty payload (loop-structure artifact); we deliberately
emit zero chunks for empty input instead (SURVEY.md §4 quirk 6) — an empty
Kinesis record is useless and costs a request slot.

Two implementations, one semantics:

- ``chunk_bytes``  — pure Python, used by the CLI/library writer path and as
  the property-test oracle.
- ``chunk_df``     — distributed DataFrame transform: a generator expression
  (sequence → transform → posexplode) that stays entirely inside
  whole-stage codegen; no Python in the hot path, scales to any payload
  count because each row chunks independently (narrow transform, no
  shuffle).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame


def chunk_bytes(payload: bytes, chunk_size: int) -> list[bytes]:
    """Split ``payload`` into ``chunk_size``-byte chunks (last = remainder)."""
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    return [payload[i : i + chunk_size] for i in range(0, len(payload), chunk_size)]


def chunk_column(data: Column, chunk_size: Column) -> Column:
    """Array-of-chunks expression over a binary/string column (codegen'd)."""
    from pyspark.sql import functions as F

    n_chunks = F.ceil(F.length(data) / chunk_size).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - F.lit(1))
    return F.when(
        F.length(data) > 0,
        F.transform(idx, lambda i: F.substring(data, i * chunk_size + 1, chunk_size)),
    ).otherwise(F.array().cast("array<binary>"))


def chunk_df(
    df: DataFrame,
    chunk_size: int,
    data_col: str = "data",
    out_col: str = "chunk",
    index_col: str = "chunk_index",
) -> DataFrame:
    """Explode each row's payload into (chunk_index, chunk) rows.

    Narrow transform — each input row expands independently, so this
    parallelizes over however many partitions the source has; no shuffle.
    """
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    from pyspark.sql import functions as F

    chunks = chunk_column(F.col(data_col).cast("binary"), F.lit(chunk_size))
    return df.select(
        "*", F.posexplode(chunks).alias(index_col, out_col)
    ).drop(data_col)
