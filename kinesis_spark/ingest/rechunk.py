"""Unframed byte-stream re-chunking: concat-then-chunk over framed rows.

The reference consumes stdin as an UNFRAMED byte stream — ``io.Copy`` hands
the writer arbitrary ~32 KiB blocks (main.go:32-35) and ``chunk()`` splits
the *buffered concatenation* into record-size chunks (kinesis/kinesis.go:
244-268). Spark sources are row-framed (lines, files, spool records), so a
per-row chunker (ingest/chunker.py) puts record boundaries at frame
boundaries — different records than the reference would emit whenever a
frame isn't a multiple of the chunk size. SURVEY.md §7(c) calls this out:
faithful semantics = rejoin the byte stream per micro-batch, then chunk.

:func:`unframed_rechunk` is that operator, built as a distributed
re-framing rather than a driver-side concat:

1. Range-repartition rows by the order column and ``pins.pin`` the
   micro-batch (pins partition ids so the two consumers below agree; a
   micro-batch is bounded, so materializing it is bounded too).
2. Two-level prefix sum for each row's global byte offset: per-partition
   byte totals (``numPartitions`` scalars — the only driver traffic) give
   each partition a base; a *per-partition* window cumsum finishes the
   offset. No global sort anywhere.
3. Each row independently splits its bytes at absolute chunk boundaries
   (``sequence``/``transform``/``posexplode`` — whole-stage codegen) into
   (chunk_id, fragment) pairs.
4. ``groupBy(chunk_id)`` reassembles fragments in offset order — one
   shuffle whose rows are (chunk_id, fragment), i.e. exactly the payload
   bytes, each byte moved once.

Every chunk except the last is exactly ``chunk_size`` bytes and
``concat(chunks) == concat(input frames in order)`` — byte-identical to the
reference's single-buffer chunking, regardless of how the source framed the
stream. Property-tested in tests/test_rechunk.py.

:class:`StreamRechunker` extends this across micro-batches the way the
reference's buffer persists across ``Write`` calls: the sub-chunk tail of
each batch (< chunk_size bytes, bounded driver state) is carried into the
next batch, so chunk boundaries are independent of micro-batch framing;
``drain()`` emits the final remainder (the flush-on-Stop path,
kinesis/kinesis.go:117-131).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_spark.pins import pin, scope


def unframed_rechunk(
    df: DataFrame,
    chunk_size: int,
    order_col: str,
    data_col: str = "data",
    num_partitions: int | None = None,
    initial_offset: int = 0,
) -> DataFrame:
    """Re-chunk the concatenation of ``df[data_col]`` (binary, ordered by
    ``order_col``) into ``chunk_size``-byte records.

    Returns ``(chunk_id bigint, chunk binary, chunk_bytes bigint)`` where
    chunk ``k`` holds stream bytes ``[k*chunk_size, (k+1)*chunk_size)``.
    ``initial_offset`` places the first input byte at that absolute stream
    position (used by :class:`StreamRechunker` to splice a carried tail in
    front without unioning it into the plan).
    """
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    if not 0 <= initial_offset:
        raise ValueError(f"initial_offset must be >= 0, got {initial_offset}")
    cs = F.lit(chunk_size).cast("bigint")

    parted = df.select(F.col(order_col).alias("__ord"), F.col(data_col).cast("binary").alias("__data"))
    if num_partitions is not None:
        parted = parted.repartitionByRange(num_partitions, "__ord")
    else:
        parted = parted.repartitionByRange("__ord")
    # Pin partition ids: both the totals pass and the offset pass below must
    # see the same partitioning. A micro-batch is bounded, so this is too.
    parted = (
        parted.withColumn("__len", F.length("__data").cast("bigint"))
        .withColumn("__pid", F.spark_partition_id())
        .transform(pin)
    )

    # Per-partition byte totals -> exclusive prefix = each partition's base
    # offset. numPartitions rows cross the driver, nothing else.
    totals = sorted(
        (r["__pid"], r["pbytes"])
        for r in parted.groupBy("__pid").agg(F.sum("__len").alias("pbytes")).collect()
    )
    bases, acc = [], 0
    for pid, pbytes in totals:
        bases.append((pid, acc))
        acc += pbytes
    spark = df.sparkSession
    base_df = F.broadcast(
        spark.createDataFrame(bases, "__pid int, __base long")
        if bases
        else spark.createDataFrame([], "__pid int, __base long")
    )

    w = Window.partitionBy("__pid").orderBy("__ord")  # per-partition sort only
    offs = (
        parted.join(base_df, "__pid")
        .withColumn(
            "__start",
            F.lit(initial_offset).cast("bigint")
            + F.col("__base")
            + F.sum("__len").over(w)
            - F.col("__len"),
        )
        .filter(F.col("__len") > 0)
    )

    # Split each row at absolute chunk boundaries it spans (codegen'd).
    # integer `div`, NOT `/`: bigint / bigint promotes to double, which
    # loses exactness past 2^53 bytes of cumulative stream offset (same
    # rule as io.py's nanosecond floor)
    first = F.expr(f"__start div {chunk_size}")
    last = F.expr(f"(__start + __len - 1) div {chunk_size}")
    frags = offs.select(
        "__start",
        "__data",
        "__len",
        F.posexplode(F.sequence(first, last)).alias("__i", "chunk_id"),
    ).select(
        "chunk_id",
        F.col("__start").alias("__fstart"),
        F.expr(
            "substring(__data, CAST(greatest(0L, chunk_id * {cs} - __start) + 1 AS INT),"
            " CAST(least(__len, (chunk_id + 1) * {cs} - __start)"
            "      - greatest(0L, chunk_id * {cs} - __start) AS INT))".format(cs=chunk_size)
        ).alias("__frag"),
    )

    # One shuffle keyed by chunk_id; fragments concatenated in stream order
    # inside each group (array_sort on the struct — no global sort).
    return (
        frags.groupBy("chunk_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("__fstart", "__frag"))),
                F.lit(b""),
                lambda a, x: F.concat(a, x["__frag"]),
            ).alias("chunk")
        )
        .select(
            "chunk_id",
            "chunk",
            F.length("chunk").cast("bigint").alias("chunk_bytes"),
        )
    )


class StreamRechunker:
    """Cross-micro-batch re-chunker with reference buffer semantics.

    Each call to :meth:`rechunk_batch` returns the *complete* chunks
    (exactly ``chunk_size`` bytes each) available once the carried tail and
    this batch's bytes are concatenated; the new sub-chunk tail is retained
    (< ``chunk_size`` bytes — the only driver-side state, same bound as the
    reference's in-memory buffer remainder). :meth:`drain` returns the final
    short chunk, mirroring flush-on-Stop (kinesis/kinesis.go:117-131).
    """

    def __init__(self, chunk_size: int):
        if chunk_size <= 0:
            raise ValueError(f"chunk_size must be positive, got {chunk_size}")
        self.chunk_size = chunk_size
        self.carry = b""
        self.chunks_emitted = 0

    @scope()
    def rechunk_batch(
        self, batch: DataFrame, order_col: str, data_col: str = "data"
    ) -> list[bytes]:
        out = unframed_rechunk(
            batch,
            self.chunk_size,
            order_col,
            data_col,
            initial_offset=len(self.carry),
        ).collect()
        if not out:
            return []  # empty batch: carry rides through unchanged
        out.sort(key=lambda r: r["chunk_id"])
        assert [r["chunk_id"] for r in out] == list(range(len(out)))
        chunks = [bytes(r["chunk"]) for r in out]
        # Chunk 0 covers stream bytes [0, chunk_size): its carried prefix
        # lives driver-side, so splice it back in front.
        chunks[0] = self.carry + chunks[0]
        if len(chunks[-1]) < self.chunk_size:
            self.carry = chunks.pop()
        else:
            self.carry = b""
        self.chunks_emitted += len(chunks)
        return chunks

    def drain(self) -> list[bytes]:
        tail, self.carry = self.carry, b""
        return [tail] if tail else []
