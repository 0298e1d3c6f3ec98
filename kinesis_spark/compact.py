"""Small-file compaction — the lakehouse maintenance operation that keeps
a 100 TB table scannable. Streaming sinks and fine-grained ingestion leave
thousands of KB-sized files; each costs a file-open + footer read per
scan task, and at scale the NameNode/listing overhead dominates. Compact
rewrites a dataset into ~target-sized files.

Scale shape: sizing comes from the file listing (no data read); the
rewrite uses ``coalesce`` — a shuffle-free merge of adjacent partitions —
unless the caller asks for ``rebalance=True`` (full repartition, needed
when input partitions are themselves skewed).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from kinesis_spark.pins import pin, scope


def dataset_bytes(spark: SparkSession, df: DataFrame) -> int:
    """Total on-disk bytes of the files backing ``df``, from the Hadoop
    FileSystem metadata (works for local paths and HDFS/object stores;
    never reads data)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    # compare scheme-less, DECODED paths: inputFiles() URIs keep percent
    # escapes while the JVM's getPath().toUri().getPath() decodes them —
    # a space or non-ASCII char in a path must not trip the n_seen guard.
    # (Scheme spellings also differ: file:/ vs file:///.)
    wanted = {unquote(urlparse(u).path) for u in files}
    # ONE listStatus per parent directory instead of one getFileStatus
    # RPC per file: compacting 100k small files (this module's reason to
    # exist) would otherwise stall the driver on 100k metadata calls
    # parents keep the full URI (scheme intact, so getFileSystem resolves
    # non-default filesystems); only the comparison is decoded
    parents: dict[str, None] = {}
    for uri in files:
        parents.setdefault(uri.rsplit("/", 1)[0], None)
    total = 0
    n_seen = 0
    for parent in parents:
        # Hadoop Path(String) keeps percent escapes literal; build from a
        # decoded java.net.URI so "a%20b" lists the real "a b" directory
        p = urlparse(parent)
        juri = jvm.java.net.URI(
            p.scheme or None, p.netloc or None, unquote(p.path), None, None
        )
        ppath = jvm.org.apache.hadoop.fs.Path(juri)
        fs = ppath.getFileSystem(conf)
        for st in fs.listStatus(ppath):
            if st.getPath().toUri().getPath() in wanted:
                total += st.getLen()
                n_seen += 1
    if n_seen != len(wanted):
        raise RuntimeError(
            f"dataset_bytes matched {n_seen}/{len(wanted)} input files in "
            "directory listings — path scheme mismatch, refusing to size "
            "the compaction from partial metadata"
        )
    return total


@scope()
def compact_dataset(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    rebalance: bool = False,
) -> int:
    """Rewrite ``in_dir`` (parquet) into ``out_dir`` with roughly
    ``target_file_bytes``-sized files. Returns the file count written.

    ``rebalance=False`` (default): ``coalesce`` — no shuffle; adjacent
    input splits merge into output tasks. ``rebalance=True``: round-robin
    ``repartition`` — one shuffle, but output files are even when the
    input is skewed.

    In-place compaction (``out_dir == in_dir`` — the canonical
    maintenance use) materializes the shaped data first: Spark refuses
    to overwrite a path it is still reading from, so the rewrite goes
    through a ``pins.pin`` (the upsert/rollup pattern) before
    the overwrite.
    """
    import os

    df = spark.read.parquet(in_dir)
    total = dataset_bytes(spark, df)
    n_files = max(1, math.ceil(total / target_file_bytes))
    if rebalance:
        shaped = df.repartition(n_files)
    else:
        # coalesce can only merge partitions, never split them — clamp so
        # the returned count matches the files actually written
        n_files = min(n_files, df.rdd.getNumPartitions())
        shaped = df.coalesce(n_files)
    if os.path.abspath(out_dir) == os.path.abspath(in_dir):
        shaped = shaped.transform(pin)
    shaped.write.mode("overwrite").parquet(out_dir)
    return n_files
