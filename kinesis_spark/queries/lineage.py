"""Data-lineage / provenance operators: every training-data release
needs to answer "which file and row did this example come from" (audit,
reproducibility, takedown requests). Spark exposes this as the hidden
``_metadata`` struct on file sources — no extra scan, the reader fills
it in.

Oracle note: DuckDB replays the same facts via its own file metadata
(``file_row_number``), but the driver's oracle views hide the path, so
the oracles reconstruct the ordinal from the fixture invariant that
rows are written in doc_id order (asserted in tests) and the basename
is ``documents.parquet`` at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_spark.io import load_table
from kinesis_spark.queries import register


def _docs_with_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # through load_table: plan-memo cache (no re-listing/footer reads per
    # call) + the per-load UTC re-pin; the hidden _metadata struct is
    # still selectable on the cached raw file-source DataFrame
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.col("_metadata.file_name").alias("file_name"),
        F.col("_metadata.row_index").alias("row_idx"),
    )


@register(
    "prov1_file_lineage",
    oracle="""
SELECT doc_id,
       'documents.parquet' AS file_name,
       CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_idx
FROM documents
""",
    tags=("lineage", "provenance"),
)
def prov1_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-example provenance: (doc_id, source file, row ordinal) straight
    from the reader's ``_metadata`` struct — zero-cost lineage, no join.

    Scale shape: map-only; at 100 TB the file_name column is the shard
    key for takedown/repro lookups, and partition pruning on it turns
    "find row 12345 of shard X" into a single-file scan."""
    return _docs_with_meta(spark, sf_dir).select("doc_id", "file_name", "row_idx")


@register(
    "prov2_shard_manifest",
    oracle="""
SELECT 'documents.parquet' AS file_name,
       COUNT(*) AS n_rows,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM documents
""",
    tags=("lineage", "manifest"),
)
def prov2_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifest: per-file row counts, id ranges, byte totals and
    source fan-in — the release artifact that makes a dataset version
    reproducible (and diffable against the previous release with s6).

    Scale shape: groupBy(file_name) partial-aggregates per input split,
    so the shuffle carries one row per file — at 100 TB that is the
    file count, not the row count."""
    return (
        _docs_with_meta(spark, sf_dir)
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
        )
    )


@register(
    "dq1_validation_rules",
    oracle="""
WITH agg AS (
  SELECT COUNT(*) AS n_rows,
    SUM(CASE WHEN COALESCE(l_quantity BETWEEN 1 AND 50, FALSE) THEN 0 ELSE 1 END) AS qty_range,
    SUM(CASE WHEN COALESCE(l_extendedprice > 0, FALSE) THEN 0 ELSE 1 END) AS price_positive,
    SUM(CASE WHEN COALESCE(l_discount BETWEEN 0 AND 1, FALSE) THEN 0 ELSE 1 END) AS discount_range,
    SUM(CASE WHEN COALESCE(l_shipdate BETWEEN DATE '1992-01-01' AND DATE '1998-12-31', FALSE) THEN 0 ELSE 1 END) AS shipdate_range,
    SUM(CASE WHEN COALESCE(l_returnflag IN ('A', 'N', 'R'), FALSE) THEN 0 ELSE 1 END) AS returnflag_domain
  FROM lineitem
)
SELECT r.rule,
       CAST(a.n_rows AS BIGINT) AS n_rows,
       CAST(CASE r.rule
         WHEN 'qty_range' THEN a.qty_range
         WHEN 'price_positive' THEN a.price_positive
         WHEN 'discount_range' THEN a.discount_range
         WHEN 'shipdate_range' THEN a.shipdate_range
         ELSE a.returnflag_domain END AS BIGINT) AS n_violations,
       1.0 - CAST(CASE r.rule
         WHEN 'qty_range' THEN a.qty_range
         WHEN 'price_positive' THEN a.price_positive
         WHEN 'discount_range' THEN a.discount_range
         WHEN 'shipdate_range' THEN a.shipdate_range
         ELSE a.returnflag_domain END AS DOUBLE) / a.n_rows AS pass_rate
FROM agg a,
     (SELECT unnest(['qty_range', 'price_positive', 'discount_range',
                     'shipdate_range', 'returnflag_domain']) AS rule) r
""",
    tags=("quality", "validation"),
)
def dq1_validation_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over lineitem: five constraint
    rules (range, positivity, date ordering, domain membership) checked
    in ONE aggregation pass via kinesis_spark.quality.validate — each
    task emits one row of rule counters, so 50 rules over 100 TB cost
    one scan and a scalar-sized shuffle, never a job per rule. A null
    predicate result counts as a violation (unknown is not good)."""
    from kinesis_spark.quality import validate

    l = load_table(spark, sf_dir, "lineitem")
    return validate(
        l,
        {
            "qty_range": F.col("l_quantity").between(1, 50),
            "price_positive": F.col("l_extendedprice") > 0,
            "discount_range": F.col("l_discount").between(0, 1),
            "shipdate_range": F.col("l_shipdate").between("1992-01-01", "1998-12-31"),
            "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        },
    )


@register(
    "prov3_dataset_fingerprint",
    oracle="""
SELECT source,
       COUNT(*) AS n_docs,
       bit_xor(CAST(('0x' || substr(
         md5(CAST(doc_id AS VARCHAR) || '|' || COALESCE(text, chr(0))), 1, 15))
         AS BIGINT))
         AS content_fingerprint
FROM documents
GROUP BY source
""",
    tags=("lineage", "fingerprint", "reproducibility"),
)
def prov3_dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive dataset fingerprint per source: XOR-aggregate a
    60-bit hash of every (doc_id, text) row. Two pipeline runs produced
    identical data iff the fingerprints match — the cheap reproducibility
    check a training-data release pins next to its manifest
    (row order, partitioning, and file layout all wash out of XOR).

    Scale shape: map-side partial XOR (commutative + associative), so
    the shuffle carries one 8-byte value per (task, source); the scan
    reads only doc_id + text. Rehashing per row is the cost — ~the same
    single pass any content checksum needs."""
    d = load_table(spark, sf_dir, "documents")
    # NULL text hashes as a NUL byte on BOTH engines: concat_ws would
    # silently collapse NULL to the separator-only form on the Spark
    # side while the oracle's || would null-propagate and bit_xor would
    # SKIP the row — a NULL-text row must move the fingerprint, and
    # identically in both engines. chr(0) is distinct from '' and never
    # organic in this corpus.
    row_hash = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("|"),
                    F.coalesce(F.col("text"), F.lit("\x00")),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.bit_xor(row_hash).alias("content_fingerprint"),
    )


@register(
    "dq2_column_profile",
    oracle="""
WITH agg AS (
  SELECT
    COUNT(*) AS n_rows,
    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS k_null,
    COUNT(DISTINCT o_orderkey) AS k_dist,
    CAST(MIN(o_orderkey) AS VARCHAR) AS k_min,
    CAST(MAX(o_orderkey) AS VARCHAR) AS k_max,
    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS c_null,
    COUNT(DISTINCT o_custkey) AS c_dist,
    CAST(MIN(o_custkey) AS VARCHAR) AS c_min,
    CAST(MAX(o_custkey) AS VARCHAR) AS c_max,
    SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS s_null,
    COUNT(DISTINCT o_orderstatus) AS s_dist,
    CAST(MIN(o_orderstatus) AS VARCHAR) AS s_min,
    CAST(MAX(o_orderstatus) AS VARCHAR) AS s_max,
    SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS p_null,
    COUNT(DISTINCT CAST(o_totalprice AS DECIMAL(14,2))) AS p_dist,
    CAST(MIN(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS p_min,
    CAST(MAX(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS p_max,
    SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS d_null,
    COUNT(DISTINCT o_orderdate) AS d_dist,
    CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS d_min,
    CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS d_max
  FROM orders
)
SELECT r.col_name,
       CAST(a.n_rows AS BIGINT) AS n_rows,
       CAST(CASE r.col_name
         WHEN 'o_orderkey' THEN a.k_null WHEN 'o_custkey' THEN a.c_null
         WHEN 'o_orderstatus' THEN a.s_null WHEN 'o_totalprice' THEN a.p_null
         ELSE a.d_null END AS BIGINT) AS n_null,
       CAST(CASE r.col_name
         WHEN 'o_orderkey' THEN a.k_dist WHEN 'o_custkey' THEN a.c_dist
         WHEN 'o_orderstatus' THEN a.s_dist WHEN 'o_totalprice' THEN a.p_dist
         ELSE a.d_dist END AS BIGINT) AS n_distinct,
       CASE r.col_name
         WHEN 'o_orderkey' THEN a.k_min WHEN 'o_custkey' THEN a.c_min
         WHEN 'o_orderstatus' THEN a.s_min WHEN 'o_totalprice' THEN a.p_min
         ELSE a.d_min END AS min_val,
       CASE r.col_name
         WHEN 'o_orderkey' THEN a.k_max WHEN 'o_custkey' THEN a.c_max
         WHEN 'o_orderstatus' THEN a.s_max WHEN 'o_totalprice' THEN a.p_max
         ELSE a.d_max END AS max_val
FROM agg a,
     (SELECT unnest(['o_orderkey', 'o_custkey', 'o_orderstatus',
                     'o_totalprice', 'o_orderdate']) AS col_name) r
""",
    tags=("quality", "profile"),
)
def dq2_column_profile(
    spark: SparkSession, sf_dir: str, *, exact: bool = True
) -> DataFrame:
    """Per-column dataset profile of ``orders`` — null count, distinct
    count, min and max (rendered to strings so heterogeneous column
    types stack into one relation) — the first look any pipeline takes
    at a new snapshot, and the input to drift checks between releases.

    ONE aggregation pass produces all 5 columns x 4 stats: Catalyst
    compiles the multi-distinct aggregate into a single scan with an
    Expand (one replicated stream per distinct column), so profiling N
    columns costs one read plus an N-way expanded shuffle of the
    grouped values — never a job per column. The stats row then pivots
    to per-column rows via a literal array + explode (5 rows, free).

    ``exact=False`` is the 100 TB mode: ``approx_count_distinct`` (HLL++,
    default 5% rsd) replaces the exact COUNT(DISTINCT), which drops the
    Expand entirely — the scan partial-aggregates fixed-size sketches
    map-side and the shuffle carries one sketch per column per task
    instead of every grouped value. Exact stays the registered default
    so the DuckDB oracle verifies values bit-for-bit; both modes are
    tested (tests/test_quality.py asserts the approx plan is Expand-free
    and its counts are within HLL error of exact). Doubles are profiled
    through DECIMAL(14,2) — engines disagree on shortest-roundtrip
    double formatting, decimals render identically.
    """
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(14,2)")
    odate = F.col("o_orderdate").cast("date")
    cols = {
        "o_orderkey": F.col("o_orderkey"),
        "o_custkey": F.col("o_custkey"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_totalprice": price,
        "o_orderdate": odate,
    }
    distinct_of = F.count_distinct if exact else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, c in cols.items():
        aggs += [
            F.sum(F.when(c.isNull(), 1).otherwise(0)).cast("bigint").alias(f"{name}__null"),
            distinct_of(c).cast("bigint").alias(f"{name}__dist"),
            F.min(c).cast("string").alias(f"{name}__min"),
            F.max(c).cast("string").alias(f"{name}__max"),
        ]
    stats = o.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("col_name"),
                F.col(f"{name}__null").alias("n_null"),
                F.col(f"{name}__dist").alias("n_distinct"),
                F.col(f"{name}__min").alias("min_val"),
                F.col(f"{name}__max").alias("max_val"),
            )
            for name in cols
        ]
    )
    return stats.select(
        F.col("n_rows").cast("bigint").alias("n_rows"), F.explode(rows).alias("r")
    ).select("r.col_name", "n_rows", "r.n_null", "r.n_distinct", "r.min_val", "r.max_val")


@register(
    "dq3_referential_integrity",
    oracle="""
SELECT 'lineitem.l_orderkey->orders' AS relationship,
       COUNT(*) AS n_child_rows,
       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS orphan_rate
FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
  ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders.o_custkey->customer',
       COUNT(*),
       CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*)
FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
  ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem.l_partkey->part',
       COUNT(*),
       CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*)
FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
  ON l.l_partkey = p.p_partkey
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       COUNT(*),
       CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*)
FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
  ON l.l_suppkey = s.s_suppkey
UNION ALL
SELECT 'events.user_id->active_customer',
       COUNT(*),
       CAST(SUM(CASE WHEN a.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN a.c_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*)
FROM events e LEFT JOIN (SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 0) a
  ON e.user_id = a.c_custkey
""",
    tags=("quality", "integrity", "join"),
)
def dq3_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts and rates for the four
    hard foreign keys of the star schema plus one conformance rule
    (events must reference an ACTIVE customer — the filtered-dimension
    check that catches late-arriving or soft-deleted parents; ~10% of
    fixture events violate it, so the nonzero path is exercised).

    Scale shape: each relationship is one left join on PRUNED key
    columns only (the scans read a single column per side — no payload
    ever moves), aggregated to a single counter row before the union,
    so the output is #relationships rows regardless of input size.
    Parent keys are deduplicated first (on BOTH the Spark and the oracle
    side): a duplicated parent would silently multiply child counts via
    join fanout, turning the audit itself into a lie. No broadcast hints — dimension sides that fit
    will broadcast via AQE; at 100 TB fact-fact pairs shuffle narrow
    bigints."""

    def rel(name: str, child: DataFrame, fk: str, parent: DataFrame, pk: str):
        par = parent.select(F.col(pk).alias("__pk")).dropDuplicates(["__pk"])
        joined = child.select(F.col(fk).alias("__fk")).join(
            par, F.col("__fk") == F.col("__pk"), "left"
        )
        miss = F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0))
        return joined.agg(
            F.count(F.lit(1)).alias("n_child_rows"),
            miss.cast("bigint").alias("n_orphans"),
            (miss.cast("double") / F.count(F.lit(1))).alias("orphan_rate"),
        ).select(
            F.lit(name).alias("relationship"),
            "n_child_rows",
            "n_orphans",
            "orphan_rate",
        )

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    e = load_table(spark, sf_dir, "events")
    active = c.filter(F.col("c_acctbal") > 0)
    parts = [
        rel("lineitem.l_orderkey->orders", l, "l_orderkey", o, "o_orderkey"),
        rel("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        rel("lineitem.l_partkey->part", l, "l_partkey", p, "p_partkey"),
        rel("lineitem.l_suppkey->supplier", l, "l_suppkey", s, "s_suppkey"),
        rel("events.user_id->active_customer", e, "user_id", active, "c_custkey"),
    ]
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


PSI_BINS = 10
PSI_BIN_WIDTH = 50_000.0  # o_totalprice spans ~[1k, 500k]; bin 9 is open-ended
PSI_SPLIT_YEAR = 1998  # fixture dates span 1995-2001; ref = the first ~45%
PSI_ALERT = 0.2  # the industry convention: PSI > 0.2 = significant drift


def psi_bin(value):
    """Bin id for a value under dq4's fixed-width binning (shared with
    the streaming drift face, streaming/drift.py — one binning
    definition, or the monitor silently profiles a different
    distribution than the batch report). Clamped on BOTH ends: bin 0
    and bin PSI_BINS-1 are open-ended, so a negative value (deltas,
    log-ratios — the generic monitor accepts any value_col) lands in
    bin 0 instead of silently vanishing off the 0..N-1 spine."""
    return (
        F.greatest(
            F.least(F.floor(value / PSI_BIN_WIDTH), F.lit(PSI_BINS - 1)),
            F.lit(0),
        )
        .cast("bigint")
    )


def psi_score(filled: DataFrame) -> DataFrame:
    """dq4's PSI report over a PRE-FILLED (bin, ref_cnt, cur_cnt)
    relation of exactly PSI_BINS rows — the scoring shared by the batch
    query and the streaming monitor. Totals ride a window over the
    {bins}-row spine, NOT a separate .agg() joined back: the agg form
    re-derives `filled` — i.e. a SECOND full source scan — because
    Spark does not share scans across plan branches (r7 plan audit).
    Bit-determinism per the dq4 docstring: one correctly-rounded
    division per share, the 6-dp decimal ln bridge, exact
    DECIMAL(28,12) total."""
    _wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tot = filled.withColumn(
        "ref_tot", F.sum("ref_cnt").over(_wall)
    ).withColumn("cur_tot", F.sum("cur_cnt").over(_wall))
    terms = tot.select(
        "bin",
        "ref_cnt",
        "cur_cnt",
        (
            (F.col("ref_cnt") + 1).cast("double")
            / (F.col("ref_tot") + PSI_BINS).cast("double")
        ).alias("ref_share"),
        (
            (F.col("cur_cnt") + 1).cast("double")
            / (F.col("cur_tot") + PSI_BINS).cast("double")
        ).alias("cur_share"),
    )
    ln6 = F.round(F.log(F.col("cur_share") / F.col("ref_share")), 6).cast(
        "decimal(9,6)"
    )
    scored = terms.withColumn(
        "term_dec",
        ((F.col("cur_share") - F.col("ref_share")) * ln6.cast("double")).cast(
            "decimal(28,12)"
        ),
    )
    w = Window.partitionBy()  # one PSI_BINS-row partition: the bin spine
    total = F.sum("term_dec").over(w).cast("double")
    return scored.select(
        "bin",
        "ref_cnt",
        "cur_cnt",
        "ref_share",
        "cur_share",
        F.col("term_dec").cast("double").alias("psi_term"),
        total.alias("psi_total"),
        (total > PSI_ALERT).alias("drift_alert"),
    )


@register(
    "dq4_psi_drift",
    oracle=f"""
WITH binned AS (
  SELECT CAST(GREATEST(LEAST(FLOOR(o_totalprice / {PSI_BIN_WIDTH}), {PSI_BINS - 1}), 0) AS BIGINT)
           AS bin,
         EXTRACT(year FROM o_orderdate) < {PSI_SPLIT_YEAR} AS is_ref
  FROM orders
),
counts AS (
  SELECT bin,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ref_cnt,
         SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS cur_cnt
  FROM binned GROUP BY bin
),
bins AS (SELECT UNNEST(range({PSI_BINS})) AS bin),
filled AS (
  SELECT b.bin,
         CAST(COALESCE(c.ref_cnt, 0) AS BIGINT) AS ref_cnt,
         CAST(COALESCE(c.cur_cnt, 0) AS BIGINT) AS cur_cnt
  FROM bins b LEFT JOIN counts c ON b.bin = c.bin
),
tot AS (
  SELECT SUM(ref_cnt) AS ref_tot, SUM(cur_cnt) AS cur_tot FROM filled
),
terms AS (
  SELECT bin, ref_cnt, cur_cnt,
         CAST(ref_cnt + 1 AS DOUBLE) / CAST(ref_tot + {PSI_BINS} AS DOUBLE)
           AS ref_share,
         CAST(cur_cnt + 1 AS DOUBLE) / CAST(cur_tot + {PSI_BINS} AS DOUBLE)
           AS cur_share
  FROM filled, tot
),
scored AS (
  SELECT bin, ref_cnt, cur_cnt, ref_share, cur_share,
         CAST((cur_share - ref_share)
              * CAST(CAST(ROUND(LN(cur_share / ref_share), 6)
                          AS DECIMAL(9,6)) AS DOUBLE)
              AS DECIMAL(28,12)) AS term_dec
  FROM terms
)
SELECT bin, ref_cnt, cur_cnt, ref_share, cur_share,
       CAST(term_dec AS DOUBLE) AS psi_term,
       CAST(SUM(term_dec) OVER () AS DOUBLE) AS psi_total,
       CAST(SUM(term_dec) OVER () AS DOUBLE) > {PSI_ALERT} AS drift_alert
FROM scored
""",
    tags=("quality", "drift", "profile"),
)
def dq4_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two snapshot slices — the
    standard distribution-drift monitor a pipeline runs on every new
    release against the profile dq2 captured: ``o_totalprice`` bins
    into {bins} fixed-width buckets, the pre-{split} orders are the
    reference distribution, the rest the current one, and
    PSI = Σ (qᵢ − pᵢ)·ln(qᵢ/pᵢ) with +1 Laplace smoothing so empty
    bins contribute a finite, engine-identical term. Every row carries
    its bin's counts, shares, PSI term, the table-level PSI total, and
    the conventional > {alert} alert flag.

    Cross-engine bit-determinism (the file-wide discipline): each share
    is ONE correctly-rounded division of exact integers; ln goes
    through s12's 6-dp decimal bridge (JVM Math.log and libm differ in
    the last ulp); and the PSI total is summed in EXACT DECIMAL(28,12)
    — a double SUM over bins would be association-order-dependent
    between engines. A double→decimal(·,12) cast can never hit a
    rounding tie (5e-13 is not dyadic), so HALF_UP vs half-even agree.

    Scale shape: one scan of orders → one {bins}-group partial-agg
    shuffle; everything after operates on {bins} rows (the bin spine is
    a literal range, the totals a 1-row broadcast, the window over a
    single {bins}-row partition). Profiling a 100 TB fact table for
    drift costs exactly one pass, like dq2."""
    o = load_table(spark, sf_dir, "orders")
    binned = o.select(
        psi_bin(F.col("o_totalprice")).alias("bin"),
        (F.year("o_orderdate") < PSI_SPLIT_YEAR).alias("is_ref"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ref_cnt"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("cur_cnt"),
    )
    bins = spark.range(PSI_BINS).select(F.col("id").alias("bin"))
    filled = (
        bins.join(counts, "bin", "left")
        .select(
            "bin",
            F.coalesce("ref_cnt", F.lit(0)).cast("bigint").alias("ref_cnt"),
            F.coalesce("cur_cnt", F.lit(0)).cast("bigint").alias("cur_cnt"),
        )
    )
    return psi_score(filled)


if dq4_psi_drift.__doc__:  # absent under python -OO
    dq4_psi_drift.__doc__ = dq4_psi_drift.__doc__.format(
        bins=PSI_BINS, split=PSI_SPLIT_YEAR, alert=PSI_ALERT
    )


_EMB_Q = float(1 << 30)  # component fixed-point scale (sim3's bridge)
_EMB_Q2 = float(1 << 40)  # second-moment scale for the summary folds


@register(
    "dq5_embedding_drift",
    oracle=f"""
WITH comp AS (
  SELECT vec_id % 2 = 0 AS is_ref, CAST(i - 1 AS BIGINT) AS dim,
         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS comp
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
),
dims AS (
  SELECT dim,
    CAST(SUM(CASE WHEN is_ref
             THEN CAST(FLOOR(comp * {_EMB_Q}) AS DECIMAL(38,0)) END) AS DOUBLE)
      / {_EMB_Q} / SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS mean_ref,
    CAST(SUM(CASE WHEN NOT is_ref
             THEN CAST(FLOOR(comp * {_EMB_Q}) AS DECIMAL(38,0)) END) AS DOUBLE)
      / {_EMB_Q} / SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS mean_cur
  FROM comp GROUP BY dim
),
shifts AS (
  SELECT dim, mean_ref, mean_cur, mean_cur - mean_ref AS shift FROM dims
),
summary AS (
  SELECT
    CAST(SUM(CAST(FLOOR(shift * shift * {_EMB_Q2}) AS DECIMAL(38,0)))
         AS DOUBLE) / {_EMB_Q2} AS l2sq,
    CAST(SUM(CAST(FLOOR(mean_ref * mean_cur * {_EMB_Q2}) AS DECIMAL(38,0)))
         AS DOUBLE) / {_EMB_Q2} AS dot,
    CAST(SUM(CAST(FLOOR(mean_ref * mean_ref * {_EMB_Q2}) AS DECIMAL(38,0)))
         AS DOUBLE) / {_EMB_Q2} AS nr,
    CAST(SUM(CAST(FLOOR(mean_cur * mean_cur * {_EMB_Q2}) AS DECIMAL(38,0)))
         AS DOUBLE) / {_EMB_Q2} AS nc
  FROM shifts
)
SELECT dim, mean_ref, mean_cur, shift,
       SQRT(l2sq) AS shift_l2,
       dot / (SQRT(nr) * SQRT(nc)) AS mean_cosine
FROM shifts, summary
""",
    tags=("quality", "drift", "embedding"),
)
def dq5_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between two snapshot slices — dq4's twin
    for the vector modality (a re-embedded corpus, a new encoder
    checkpoint, a new crawl): per-dimension centroid means of the two
    slices (vec_id parity stands in for release membership), the
    per-dimension shift, and two summary statistics every row carries —
    the L2 norm of the mean-shift vector and the cosine between the two
    mean vectors (the cheap first-order alarm before anything as
    expensive as an MMD test).

    Determinism is sim3's fixed-point bridge throughout: components
    quantize via floor(x * 2^30) (power-of-two scale + floor are exact
    double ops — no double→decimal representation-tie hazard), sum as
    exact DECIMAL(38,0), divide back; the three cross-dimension folds
    (shift², dot, norms) bridge the same way at 2^40 before their
    single sqrt/division — a plain double SUM over dimensions would be
    association-order-dependent between engines.

    Scale shape: ONE scan of embeddings → one (dim)-keyed partial-agg
    shuffle (64 groups × two fixed-width accumulators); the summary is
    a second aggregation over the 64-row spine joined back as a 1-row
    broadcast. Drift-checking a 100 TB embedding corpus costs one pass,
    like dq2/dq4."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        (F.col("vec_id") % 2 == 0).alias("is_ref"),
        F.posexplode("embedding").alias("dim0", "comp0"),
    ).select(
        "is_ref",
        F.col("dim0").cast("bigint").alias("dim"),
        F.col("comp0").cast("double").alias("comp"),
    )
    q = F.floor(F.col("comp") * _EMB_Q).cast("decimal(38,0)")
    dims = comp.groupBy("dim").agg(
        (
            F.sum(F.when(F.col("is_ref"), q)).cast("double")
            / _EMB_Q
            / F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
        ).alias("mean_ref"),
        (
            F.sum(F.when(~F.col("is_ref"), q)).cast("double")
            / _EMB_Q
            / F.sum(F.when(F.col("is_ref"), 0).otherwise(1))
        ).alias("mean_cur"),
    )
    shifts = dims.select(
        "dim",
        "mean_ref",
        "mean_cur",
        (F.col("mean_cur") - F.col("mean_ref")).alias("shift"),
    )

    # summary folds as windows over the 64-row dim spine, NOT a
    # separate .agg() joined back: the agg form re-derives `shifts` —
    # a SECOND full embeddings scan + explode — because Spark does not
    # share scans across plan branches (r7 plan audit). The decimal
    # fixed-point bridge is identical either way.
    _wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    def _fold(expr):
        return (
            F.sum(F.floor(expr * _EMB_Q2).cast("decimal(38,0)"))
            .over(_wall)
            .cast("double")
            / _EMB_Q2
        )

    return shifts.select(
        "dim",
        "mean_ref",
        "mean_cur",
        "shift",
        F.sqrt(_fold(F.col("shift") * F.col("shift"))).alias("shift_l2"),
        (
            _fold(F.col("mean_ref") * F.col("mean_cur"))
            / (
                F.sqrt(_fold(F.col("mean_ref") * F.col("mean_ref")))
                * F.sqrt(_fold(F.col("mean_cur") * F.col("mean_cur")))
            )
        ).alias("mean_cosine"),
    )


def diff_by_key(a, b, key: str, fingerprint: Column):
    """Snapshot reconciliation: classify every key as added / removed /
    changed between two corpus snapshots, by comparing a row fingerprint
    (e.g. ``F.md5("text")``) computed on each side. Returns
    ``(key, status)`` rows for every key whose status is not
    'unchanged'.

    Scale shape (the 100 TB snapshot-diff): the fingerprint is computed
    MAP-SIDE on each snapshot scan, so only (key, 16-byte hash, flag)
    ever shuffles — document bodies never leave their scan. One
    full-outer shuffle join on the unique key (skew-free by
    construction); output is proportional to the churn, not the corpus.
    Presence is tracked with explicit flags, not hash nullness, so a
    NULL payload (fingerprint NULL) still diffs correctly.
    """
    fa = a.select(F.col(key), fingerprint.alias("_h_a"), F.lit(True).alias("_in_a"))
    fb = b.select(F.col(key), fingerprint.alias("_h_b"), F.lit(True).alias("_in_b"))
    joined = fa.join(fb, key, "full_outer")
    status = (
        F.when(F.col("_in_a").isNull(), F.lit("added"))
        .when(F.col("_in_b").isNull(), F.lit("removed"))
        .when(
            ~F.col("_h_a").eqNullSafe(F.col("_h_b")), F.lit("changed")
        )  # eqNullSafe: NULL payload on one side only is a change
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status") != "unchanged")
        .select(key, "status")
    )


@register(
    "prov4_snapshot_diff",
    oracle="""
WITH a AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 != 0
),
b AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS h
  FROM documents WHERE doc_id % 10 != 5
)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS status
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.h != b.h
""",
    tags=("provenance", "snapshot", "diff"),
)
def prov4_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot reconciliation — the dataset-versioning diff a
    training pipeline runs between two corpus publishes (what changed
    since the run that trained the last model?). Two snapshot views are
    derived deterministically from the documents fixture (A drops
    doc_id%10==0, B drops %10==5 and revises %7==0 bodies — a stand-in
    for two partitioned-store publishes); the diff itself is the
    generic :func:`diff_by_key`: map-side md5 fingerprints, ONE
    full-outer shuffle join carrying (key, 16-byte hash) — bodies never
    shuffle — emitting only churned keys (added/removed/changed).
    The fixture has non-null text, so the oracle's null-free CASE is
    exact; diff_by_key itself is null-payload-proof via presence flags.
    """
    d = load_table(spark, sf_dir, "documents")
    snap_a = d.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    snap_b = d.filter(F.col("doc_id") % 10 != 5).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return diff_by_key(snap_a, snap_b, "doc_id", F.md5("text"))


# dq6 sweeps DQ6_BUCKETS thresholds (k/DQ6_BUCKETS for k = 0..9) over
# t2's quality score. Bucket assignment floors score*DQ6_BUCKETS — the
# score is computed by identical IEEE expressions on both engines, so
# the floor (and therefore every threshold count) is bit-identical.
DQ6_BUCKETS = 10


def _dq6_oracle() -> str:
    # compose t2's REGISTERED oracle verbatim — one definition of the
    # score on each engine; a scoring change re-sweeps automatically
    from kinesis_spark.queries import REGISTRY
    from kinesis_spark.queries import textstats as _ts  # noqa: F401  (registers t2)

    t2 = REGISTRY["t2_quality_score"].oracle
    return f"""
WITH scored AS ({t2}),
b AS (
  SELECT LEAST(CAST(FLOOR(quality_score * {DQ6_BUCKETS}) AS BIGINT),
               {DQ6_BUCKETS - 1}) AS bucket,
         COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS ch
  FROM scored GROUP BY 1
),
spine AS (SELECT unnest(range({DQ6_BUCKETS})) AS bucket),
cum AS (
  SELECT s.bucket,
         SUM(COALESCE(b.n, 0)) OVER (ORDER BY s.bucket DESC) AS n_kept,
         SUM(COALESCE(b.ch, 0)) OVER (ORDER BY s.bucket DESC) AS kept_chars,
         SUM(COALESCE(b.n, 0)) OVER () AS total
  FROM spine s LEFT JOIN b USING (bucket)
)
SELECT CAST(bucket AS DOUBLE) / {DQ6_BUCKETS} AS threshold,
       CAST(n_kept AS BIGINT) AS n_kept,
       CAST(kept_chars AS BIGINT) AS kept_chars,
       CAST(n_kept AS DOUBLE) / total AS keep_rate
FROM cum
"""


@register(
    "dq6_quality_threshold_sweep",
    oracle=_dq6_oracle(),
    tags=("quality", "sweep", "report"),
)
def dq6_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-tuning curve for the quality gate: for each candidate
    threshold k/10, how many documents (and how many characters of
    training data) survive ``quality_score >= threshold`` — the report
    every pipeline reads before choosing its filter cutoff, since the
    threshold trades data volume against quality and the right value is
    corpus-specific (Gopher/C4 both published exactly this sweep shape).

    Plan shape: t2's one-scan scoring feeds a 10-bucket keyed rollup
    (floor(score*10), partial-aggregated map-side); the per-threshold
    cumulative "docs kept at >= k/10" is a running sum over the TEN-row
    bucket spine, not the corpus — so the sweep costs one corpus scan +
    one 10-row window regardless of how many thresholds it reports.
    The spine left-join keeps empty buckets so the curve always has
    exactly 10 points.
    """
    from kinesis_spark.queries.textstats import t2_quality_score

    scored = t2_quality_score(spark, sf_dir).select("n_chars", "quality_score")
    bucket = F.least(
        F.floor(F.col("quality_score") * DQ6_BUCKETS).cast("bigint"),
        F.lit(DQ6_BUCKETS - 1).cast("bigint"),
    )
    per = scored.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("bigint").alias("ch"),
    )
    spine = spark.range(DQ6_BUCKETS).select(F.col("id").alias("bucket"))
    joined = spine.join(per, "bucket", "left").select(
        "bucket",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("ch", F.lit(0).cast("bigint")).alias("ch"),
    )
    w_desc = (
        Window.orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    return joined.select(
        (F.col("bucket").cast("double") / DQ6_BUCKETS).alias("threshold"),
        F.sum("n").over(w_desc).cast("bigint").alias("n_kept"),
        F.sum("ch").over(w_desc).cast("bigint").alias("kept_chars"),
        (
            F.sum("n").over(w_desc).cast("double") / F.sum("n").over(w_all)
        ).alias("keep_rate"),
    )


from kinesis_spark.queries.dedup import _CAPPED_PAIRS_SQL as _D14_PAIRS_SQL


@register(
    "dq7_neardup_rate_by_source",
    # shares dedup's capped-pair CTE verbatim: a BAND_ROWS/N_HASHES
    # change re-bands this report in lockstep with the dedup family
    oracle=f"""
WITH {_D14_PAIRS_SQL},
flagged AS (
  SELECT d.source, CAST(COUNT(DISTINCT f.doc_id) AS BIGINT) AS n_flagged
  FROM (
    SELECT doc_a AS doc_id FROM pairs
    UNION ALL SELECT doc_b AS doc_id FROM pairs
  ) f JOIN documents d ON f.doc_id = d.doc_id
  GROUP BY d.source
),
totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
)
SELECT t.source, t.n_docs,
       CAST(COALESCE(fl.n_flagged, 0) AS BIGINT) AS n_flagged,
       CAST(COALESCE(fl.n_flagged, 0) AS DOUBLE) / t.n_docs AS neardup_rate
FROM totals t LEFT JOIN flagged fl ON t.source = fl.source
""",
    tags=("quality", "dedup", "report"),
)
def dq7_neardup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source NEAR-DUP CONTAMINATION report — the number a curator
    reads before weighting a source in the mix: how many of a source's
    documents sit in at least one capped-LSH candidate pair (d14's
    relation, the same one the verify/consume family rides), and the
    rate against the source's document count. A source at 30% near-dup
    incidence needs dedup before mixing; one at 0.5% doesn't.

    Scale shape: the candidate relation is capped-bucket-bounded
    (d14); flagged docs come from ONE explode of the pair list; the
    rate join is (source)-keyed against a source-count-sized rollup.
    Document bodies never shuffle — pairs are id-pairs, the join keys
    are ids and source labels."""
    from kinesis_spark.queries.dedup import d14_capped_lsh_pairs

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = d14_capped_lsh_pairs(spark, sf_dir)
    flagged = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .join(d, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_flagged"))
    )
    totals = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return totals.join(flagged, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_flagged", F.lit(0)).cast("bigint").alias("n_flagged"),
        (
            F.coalesce("n_flagged", F.lit(0)).cast("double") / F.col("n_docs")
        ).alias("neardup_rate"),
    )
