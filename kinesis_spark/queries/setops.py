"""Set operations (SURVEY.md §2B): union / intersect / except, distinct
and multiset (ALL) variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_spark.io import load_table
from kinesis_spark.pins import pin
from kinesis_spark.queries import register
from kinesis_spark.shards import hash_bucket, hash_u32


def _custkeys_in_year(spark, sf_dir, year: int) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
    ).select("o_custkey")


@register(
    "s1_union_segments",
    oracle="""
SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
UNION
SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 9000
""",
    tags=("setop", "union"),
)
def s1_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two overlapping customer selections."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_mktsegment")
    b = c.filter(F.col("c_acctbal") > 9000).select("c_custkey", "c_mktsegment")
    return a.union(b).distinct()


@register(
    "s2_intersect_repeat_buyers",
    oracle="""
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
""",
    tags=("setop", "intersect"),
)
def s2_intersect_repeat_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers active in both 1996 and 1997."""
    return _custkeys_in_year(spark, sf_dir, 1996).intersect(
        _custkeys_in_year(spark, sf_dir, 1997)
    )


@register(
    "s3_except_churned",
    oracle="""
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
EXCEPT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
""",
    tags=("setop", "except"),
)
def s3_except_churned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers active in 1996 but not 1997 (distinct EXCEPT)."""
    return _custkeys_in_year(spark, sf_dir, 1996).subtract(
        _custkeys_in_year(spark, sf_dir, 1997)
    )


@register(
    "s4_union_all_order_events",
    oracle="""
SELECT o_custkey AS entity_id, 'order' AS kind FROM orders
WHERE o_orderdate >= TIMESTAMP '2000-01-01'
UNION ALL
SELECT user_id AS entity_id, 'event' AS kind FROM events
WHERE event_type = 'purchase'
""",
    tags=("setop", "union-all"),
)
def s4_union_all_order_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset UNION ALL across heterogeneous sources (unionByName)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("entity_id"), F.lit("order").alias("kind"))
    )
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("entity_id"), F.lit("event").alias("kind"))
    )
    return o.unionByName(e)


@register(
    "s5_deterministic_sample",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
      % 20 = 0
""",
    tags=("sample", "filter"),
)
def s5_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~5% systematic sample via key hashing — the scale
    pattern for sampling training data: decision is a pure function of
    the key (stable across runs, engines, and repartitioning), unlike
    df.sample whose RNG stream is engine- and partitioning-dependent."""
    o = load_table(spark, sf_dir, "orders")
    bucket = hash_bucket(F.col("o_orderkey"), 20)
    return o.filter(bucket == 0).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "s6_dataset_diff",
    oracle="""
WITH a AS (
  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey <= 3000
),
b AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 100 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus
  FROM orders WHERE o_orderkey <= 3000
)
SELECT 'only_in_a' AS side, o_orderkey, o_custkey, o_orderstatus
FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
UNION ALL
SELECT 'only_in_b' AS side, o_orderkey, o_custkey, o_orderstatus
FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM a)
""",
    tags=("setop", "diff", "audit"),
)
def s6_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset diff (symmetric difference with provenance): the audit
    operator for pipeline changes — rows only in A union rows only in B,
    each tagged with its side. MULTISET semantics (exceptAll / EXCEPT
    ALL on both engines): duplicate rows diff by multiplicity, which is
    what a row-count audit needs; at scale both sides hash-partition on
    the full row once."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 3000)
    a = o.select("o_orderkey", "o_custkey", "o_orderstatus")
    b = o.select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 100 == 0, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    only_a = a.exceptAll(b).withColumn("side", F.lit("only_in_a"))
    only_b = b.exceptAll(a).withColumn("side", F.lit("only_in_b"))
    return only_a.unionByName(only_b).select(
        "side", "o_orderkey", "o_custkey", "o_orderstatus"
    )


@register(
    "s7_stratified_sample",
    oracle="""
WITH sampled AS (
  SELECT c_custkey, c_mktsegment, c_acctbal
  FROM customer
  WHERE CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT)
        % 100 < CASE c_mktsegment
                  WHEN 'BUILDING' THEN 50
                  WHEN 'MACHINERY' THEN 20
                  ELSE 10
                END
)
SELECT c_mktsegment,
       COUNT(*) AS n_sampled,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal_sum
FROM sampled
GROUP BY c_mktsegment
""",
    tags=("sample", "stratified", "aggregate"),
)
def s7_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum sampling rates (the `sampleBy` shape) made
    reproducible: the keep decision is a pure hash of the key compared
    to the stratum's per-mille threshold, so the SAME rows are kept
    across runs, engines, partitionings, and cluster sizes — which
    `df.sampleBy`'s partition-dependent RNG stream cannot promise. The
    per-stratum rate map is the CASE expression; at scale it's a
    broadcast map lookup, the filter is map-side, and only survivors
    reach the aggregation shuffle."""
    c = load_table(spark, sf_dir, "customer")
    bucket = hash_bucket(F.col("c_custkey"), 100)
    rate = (
        F.when(F.col("c_mktsegment") == "BUILDING", 50)
        .when(F.col("c_mktsegment") == "MACHINERY", 20)
        .otherwise(10)
    )
    return (
        c.filter(bucket < rate)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double")
            .alias("bal_sum"),
        )
    )


@register(
    "s8_domain_mix_rebalance",
    oracle="""
WITH counts AS (
  SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source
),
totals AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM counts
),
rates AS (
  SELECT c.source, c.cnt,
         least(10000, (10000 * (t.total // t.n_sources)) // c.cnt)
           AS threshold_pm
  FROM counts c CROSS JOIN totals t
),
kept AS (
  SELECT d.source, r.cnt, r.threshold_pm, d.n_chars
  FROM documents d JOIN rates r USING (source)
  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % 10000 < r.threshold_pm
)
SELECT source,
       CAST(MAX(cnt) AS BIGINT) AS n_docs,
       CAST(MAX(threshold_pm) AS BIGINT) AS threshold_pm,
       COUNT(*) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS kept_chars
FROM kept
GROUP BY source
""",
    tags=("sample", "mixture", "dedup-pipeline"),
)
def s8_domain_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing: downsample each source toward an equal
    share of the corpus (the training-data mixing step). Unlike s7 the
    per-source rate is DERIVED from the data — quota = total/n_sources,
    threshold = min(1, quota/count_s) in exact per-myriad integer
    arithmetic — and the keep decision is a pure hash of doc_id, so the
    same rows survive on any engine, partitioning, or cluster size.

    Scale shape: per-source counts are a tiny aggregate (sources <<
    docs); the rate table broadcasts back onto the corpus scan, the
    filter is map-side, and only survivors reach the final per-source
    aggregation. Two scans of the corpus, zero wide shuffles of it."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    # totals as a window over the tiny per-source spine, NOT an .agg()
    # crossJoined back: the agg form re-derives `counts` — a THIRD
    # corpus scan — because Spark does not share scans across plan
    # branches (r7 plan audit). Exact bigint arithmetic either way.
    _wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rates = (
        counts.withColumn("total", F.sum("cnt").over(_wall).cast("bigint"))
        .withColumn("n_sources", F.count(F.lit(1)).over(_wall).cast("bigint"))
        .select(
            "source",
            "cnt",
            F.least(
                F.lit(10000).cast("bigint"),
                F.expr("(10000 * (total div n_sources)) div cnt"),
            ).alias("threshold_pm"),
        )
    )
    bucket = hash_bucket(F.col("doc_id"), 10000)
    kept = d.join(F.broadcast(rates), "source").filter(bucket < F.col("threshold_pm"))
    return kept.groupBy("source").agg(
        F.max("cnt").cast("bigint").alias("n_docs"),
        F.max("threshold_pm").cast("bigint").alias("threshold_pm"),
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )


@register(
    "s9_train_val_test_split",
    oracle="""
WITH assigned AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 100 AS bucket
  FROM documents
)
SELECT doc_id, source, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM assigned
""",
    tags=("setop", "split", "training"),
)
def s9_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: the assignment is a
    pure function of the stable doc_id (salted md5 → bucket 0-99), so it
    is reproducible across runs, machines, and engine versions, and a
    re-run after appending new documents never reassigns an old one —
    the property a training pipeline actually needs from a splitter.

    Scale shape: row-local expressions only (no shuffle, no sampling
    state); the split can be computed inline in any downstream scan and
    pushed into a partitioned write.
    """
    from kinesis_spark.shards import split_bucket, split_name

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "source", split_bucket(F.col("doc_id")).alias("bucket")
    ).withColumn("split", split_name(F.col("bucket")))


@register(
    "s10_reproducible_shuffle",
    oracle="""
WITH keyed AS (
  SELECT doc_id,
         md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
),
sharded AS (
  SELECT doc_id, shuffle_key,
         CAST(('0x' || substr(shuffle_key, 1, 15)) AS BIGINT) % 8 AS shard
  FROM keyed
)
SELECT doc_id, shard,
       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id)
         AS pos_in_shard
FROM sharded
""",
    tags=("setop", "shuffle", "training"),
)
def s10_reproducible_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global shuffle for training-order randomization: every
    doc gets a pseudo-random key md5(seed || doc_id), is routed to one of
    N shards by that key, and gets a deterministic position within its
    shard. Same seed → same order, forever — the way a 100 TB corpus is
    shuffled for training (N shard files, each internally ordered),
    without any single global sort or global row numbering.

    Scale shape: the only shuffle is the hash partition on shard; the
    per-shard ROW_NUMBER window parallelizes across shards (no
    partition-less window).
    """
    from kinesis_spark.shards import shard_of, shuffle_key

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", shuffle_key(F.col("doc_id")).alias("shuffle_key")
    ).select(
        "doc_id", "shuffle_key", shard_of(F.col("shuffle_key"), 8).alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos_in_shard")
    )


SAMPLE_K = 200  # exactly-k sample size


@register(
    "s11_exact_k_sample",
    oracle=f"""
SELECT doc_id, source, n_chars
FROM documents
ORDER BY md5('k7#' || CAST(doc_id AS VARCHAR)), doc_id
LIMIT {SAMPLE_K}
""",
    tags=("setop", "sampling", "topk"),
)
def s11_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k deterministic sample: rank every row by a seeded hash
    of its key and keep the global top-k — the companion to s5's
    rate-based sample when the contract is a COUNT, not a probability
    (eval sets, human-review batches, fixed-size calibration splits).

    Scale shape: orderBy().limit(k) compiles to TakeOrderedAndProject —
    each task keeps a k-row heap and only those k-row heaps meet at the
    driver/final stage; there is NO full global sort and NO full-data
    shuffle, so the cost at 100 TB is one scan plus tasks x k rows.
    Same seed → same sample, forever; new rows displace old ones only
    if they hash lower (bounded churn, the property that makes
    hash-sampling auditable)."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("k7#"), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", "source", "n_chars")
        .orderBy(key.asc(), F.col("doc_id").asc())
        .limit(SAMPLE_K)
    )


WEIGHTED_K = 100  # weighted-sample size


@register(
    "s12_weighted_sample",
    oracle=f"""
SELECT doc_id, source, n_chars
FROM documents
ORDER BY CAST(CAST(ROUND(
           ln((CAST(('0x' || substr(md5('ws#' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) + 1) / 4294967297.0), 6)
           AS DECIMAL(9,6)) AS DOUBLE) / n_chars DESC,
         doc_id
LIMIT {WEIGHTED_K}
""",
    tags=("setop", "sampling", "weighted", "topk"),
)
def s12_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-Res),
    derandomized: each doc gets priority u^(1/w) with u a seeded hash of
    its key mapped to (0,1] and w = n_chars its weight; the k highest
    priorities are the sample. Longer (here: heavier-weighted) docs are
    proportionally more likely to be kept — the primitive behind
    quality-weighted corpus subsampling, where w is a quality score.

    Priorities are compared in log space (ln(u)/w — monotone in
    u^(1/w)) to avoid underflow at extreme weights. The hash-derived u
    makes the sample a pure function of (seed, key, weight): stable
    across runs, engines, partitionings, and cluster sizes, which is
    what makes a weighted subsample reproducible in a release manifest.

    Cross-engine bit-determinism: u itself is exact (integer hash + one
    correctly-rounded IEEE division), but ln is NOT correctly rounded
    in either engine — JVM Math.log and libm differ in the last ulp on
    ~7% of these inputs (measured), so the raw ln(u)/w ordering could
    flip at a rank-k boundary on an unlucky fixture. The file-wide fp
    bridge fixes it: ln is rounded to 6 dp THROUGH AN EXACT DECIMAL
    (t11's pattern) and the /w division of the identical doubles is
    correctly rounded — the whole priority is then bit-identical. The
    1e-6 granularity costs nothing statistically: |ln u| ≤ 22.2 spans
    22M grid points, and doc_id breaks the rare grid collision.

    Scale shape: identical to s11 — orderBy(priority).limit(k) compiles
    to TakeOrderedAndProject (per-task k-row heaps, no global sort, no
    full shuffle); the priority itself is a map-side expression.
    """
    d = load_table(spark, sf_dir, "documents")
    u = (hash_u32(F.col("doc_id"), salt="ws#") + 1) / 4294967297.0
    ln6 = F.round(F.log(u), 6).cast("decimal(9,6)")
    priority = ln6.cast("double") / F.col("n_chars")
    return (
        d.select("doc_id", "source", "n_chars")
        .orderBy(priority.desc(), F.col("doc_id").asc())
        .limit(WEIGHTED_K)
    )


# Temperature-mixture constants: weights ∝ cnt^0.5 (alpha = 1/2, the
# flattening exponent multilingual-corpus samplers use), fixed-point scale
# 2^20 so the weight sum is exact integer arithmetic.
TEMP_WEIGHT_SCALE = 1 << 20


@register(
    "s13_temperature_mixture",
    oracle=f"""
WITH counts AS (
  SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source
),
weighted AS (
  SELECT source, cnt,
         CAST(floor(sqrt(CAST(cnt AS DOUBLE)) * {TEMP_WEIGHT_SCALE}) AS BIGINT) AS w
  FROM counts
),
rates AS (
  SELECT source, cnt, w,
         least(CAST(10000 AS BIGINT),
               CAST((10000 * ((CAST(t.total AS HUGEINT) * CAST(w AS HUGEINT))
                              // CAST(t.wsum AS HUGEINT))) // cnt
                    AS BIGINT)) AS threshold_pm
  FROM weighted CROSS JOIN
       (SELECT SUM(cnt) AS total, SUM(w) AS wsum FROM weighted) t
),
kept AS (
  SELECT d.source, r.cnt, r.threshold_pm, d.n_chars
  FROM documents d JOIN rates r USING (source)
  WHERE CAST(('0x' || substr(md5('temp#' || CAST(d.doc_id AS VARCHAR)), 1, 8))
        AS BIGINT) % 10000 < r.threshold_pm
)
SELECT source,
       CAST(MAX(cnt) AS BIGINT) AS n_docs,
       CAST(MAX(threshold_pm) AS BIGINT) AS threshold_pm,
       COUNT(*) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS kept_chars
FROM kept
GROUP BY source
""",
    tags=("sample", "mixture", "temperature", "dedup-pipeline"),
)
def s13_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (alpha = 0.5): each source's
    share of the kept corpus is proportional to cnt^alpha rather than cnt
    — the standard flattening used to up-weight low-resource domains /
    languages when mixing LLM training corpora (s8 is the alpha = 0 "equal
    share" limit; alpha = 1 is the raw corpus). Keep decisions are a pure
    salted hash of doc_id, so the same rows survive on any engine or
    partitioning.

    Cross-engine determinism of the fractional exponent: sqrt is
    IEEE-754 correctly rounded in both engines (same input double →
    bit-identical result), scaling by 2^20 is an exponent shift (exact),
    and floor makes the weight an integer — from there every derived
    quantity (weight sum, per-source target, per-myriad threshold) is
    exact bigint arithmetic.

    Scale shape: identical to s8 — per-source counts are a tiny
    aggregate, the rate table broadcasts onto the corpus scan, the keep
    filter is map-side, and only survivors reach the final rollup. Two
    narrow scans of the corpus, zero wide shuffles of it."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    weighted = counts.select(
        "source",
        "cnt",
        F.floor(F.sqrt(F.col("cnt").cast("double")) * TEMP_WEIGHT_SCALE)
        .cast("bigint")
        .alias("w"),
    )
    # totals as a window over the per-source spine (s8's r7 fix — the
    # .agg()-and-join-back form re-scanned the corpus a third time).
    _wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # total*w can pass int64 at extreme corpus sizes (1e13 docs x 2^20-
    # scaled weights) — the product runs in DECIMAL(38,0) (Spark) /
    # HUGEINT (oracle), still exact integer arithmetic.
    rates = weighted.withColumn(
        "total", F.sum("cnt").over(_wall).cast("bigint")
    ).withColumn("wsum", F.sum("w").over(_wall).cast("bigint")).select(
        "source",
        "cnt",
        F.least(
            F.lit(10000).cast("bigint"),
            F.expr(
                "(10000 * ((CAST(total AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0)))"
                " div CAST(wsum AS DECIMAL(38,0)))) div cnt"
            ),
        ).alias("threshold_pm"),
    )
    bucket = hash_bucket(F.col("doc_id"), 10000, salt="temp#")
    kept = d.join(F.broadcast(rates), "source").filter(bucket < F.col("threshold_pm"))
    return kept.groupBy("source").agg(
        F.max("cnt").cast("bigint").alias("n_docs"),
        F.max("threshold_pm").cast("bigint").alias("threshold_pm"),
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )


def _s14_oracle() -> str:
    # the component computation is d9's, verbatim — compose from its
    # shared CTE constant instead of restating the banding scheme
    from kinesis_spark.queries.dedup import _D9_COMPONENTS_CTE

    return f"""{_D9_COMPONENTS_CTE},
labeled AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
assigned AS (
  SELECT doc_id, component,
         CAST(('0x' || substr(md5('split:' || CAST(component AS VARCHAR)), 1, 15))
              AS BIGINT) % 100 AS bucket
  FROM labeled
)
SELECT doc_id, component, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM assigned
"""


@register(
    "s14_leakage_free_split",
    oracle=_s14_oracle(),
    tags=("setop", "split", "dedup", "training"),
)
def s14_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split: the split is a pure function
    of the NEAR-DUP GROUP, not the document — every member of a MinHash
    connected component (d9) lands in the same split, so a test document
    can never have a near-duplicate in train. This is the eval-integrity
    property s9's per-document hash split cannot give (a near-dup pair
    straddling the 80/20 line leaks the test answer into training); the
    contamination literature calls the per-doc version "split leakage".

    Composition, all registered operators: d9's component labels (LSH
    banding → iterative min-label propagation) define the group; the
    group's canonical id feeds s9's salted-md5 bucket (shards.py) so the
    assignment stays append-stable and engine-independent. Documents
    below d9's token gate are their own singleton groups. The guarantee
    is relative to d9's CAPPED candidate graph (r8, with d9's default):
    pairs sharing ONLY a hot band key (> MAX_BUCKET members — boilerplate
    collisions carrying no near-dup signal) are not constrained, the
    standard trade every capped web-scale dedup makes; the property test
    pins the capped-graph version.

    Scale shape: inherits d9's shape (banded equi-join, no all-pairs;
    per-iteration pin); the split assignment itself adds one
    row-local md5 — no extra shuffle beyond d9's. The oracle replays the
    whole composition (recursive reachability CTE + the same md5 bucket
    arithmetic) bit-for-bit.
    """
    from kinesis_spark.queries.dedup import d9_dedup_components
    from kinesis_spark.shards import split_bucket, split_name

    comp = d9_dedup_components(spark, sf_dir).select("doc_id", "component")
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    labeled = d.join(comp, "doc_id", "left").withColumn(
        "component", F.coalesce("component", F.col("doc_id"))
    )
    bucket = split_bucket(F.col("component"))
    return labeled.select(
        "doc_id",
        "component",
        bucket.alias("bucket"),
        split_name(bucket).alias("split"),
    )


DOMAIN_CAP = 80  # max documents admitted per source


@register(
    "s15_domain_cap",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS source_total
  FROM documents
)
SELECT doc_id, source, CAST(source_total AS BIGINT) AS source_total,
       CAST(rk AS BIGINT) AS priority, rk <= {DOMAIN_CAP} AS admitted
FROM ranked
""",
    tags=("setop", "sampling", "training"),
)
def s15_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain admission cap: at most {cap} documents per source,
    chosen by a deterministic salted-md5 priority — the crawl-pipeline
    guard against a single domain dominating the training mixture
    (boilerplate-heavy mega-domains otherwise drown the tail). Every row
    is kept with its admission verdict so the report doubles as the
    drop manifest.

    The priority is a pure function of doc_id (append-stable: adding
    documents never flips an existing admit to drop unless the cap
    crowds it out, and re-runs are reproducible across engines); ties
    are impossible at the md5 level but doc_id breaks them bit-stably
    anyway.

    Scale shape: ONE hash shuffle on source + a per-source sort —
    row_number over a partitioned window, never a global sort; at 100 TB
    sources are many and the per-source groups bounded, so the window
    parallelizes across the shuffle. A skewed mega-source is exactly the
    d14/j6 salting case; the cap itself bounds what survives downstream.
    """
    d = load_table(spark, sf_dir, "documents")
    prio = F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(prio, F.col("doc_id"))
    rk = F.row_number().over(w).cast("bigint")  # ONE rank definition
    return d.select(
        "doc_id",
        "source",
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("source_total"),
        rk.alias("priority"),
        (rk <= DOMAIN_CAP).alias("admitted"),
    )


if s15_domain_cap.__doc__:  # absent under python -OO
    s15_domain_cap.__doc__ = s15_domain_cap.__doc__.format(cap=DOMAIN_CAP)


DSIR_GRAM = 3  # character n-gram width (t12's hashing-trick family)
DSIR_BUCKETS = 4096  # feature-hash space
DSIR_TARGET_LANG = "en"  # the "target distribution" sample
_DSIR_SCALE = 1_000_000  # 6-dp fixed point for the exact weight sum

# Gram -> bucket via a multiplicative hash over CODE POINTS, not md5:
# h = ((c1*131 + c2)*131 + c3) % 2^22, bucket = Knuth-mix top bits of
# h — integer-only arithmetic both engines compute natively (Spark
# ascii() and DuckDB unicode() both return the first code point), which
# drops the per-gram md5 digest that dominated this query's runtime
# (measured 4.1 s -> see below at sf0.1). The Fibonacci multiplier's
# top-12-bits extraction gives the avalanche a plain (h % 4096) lacks.
# The % 2^22 reduction (ADVICE r5) bounds the multiply: raw h reaches
# ~1.9e10 for max code points (0x10FFFF), and h * MIX would pass 2^63 —
# Spark wraps silently while DuckDB errors, a cross-engine divergence
# on non-ASCII text. Reduced, h < 2^22 so h * MIX < 2^54: exact int64
# on both engines. ASCII grams are UNAFFECTED (their raw h tops out at
# ~2.2e6 < 2^22), so fixture bucket assignments — and the driver's
# hash-verified results — are identical to the unreduced round-5 form.
_DSIR_MIX = 2654435761  # 2^32 / golden ratio (Knuth multiplicative)
_DSIR_HMOD = 1 << 22  # pre-multiply reduction: h*MIX provably fits int64
_DSIR_SHIFT = (1 << 32) // DSIR_BUCKETS  # take the top 12 of 32 bits

# the first code point is CAST to BIGINT: DuckDB's unicode() is INT32
# and (c1*131+c2)*131 overflows INT32 for supplementary-plane c1 — the
# cast promotes the whole chain (Spark's codes array is bigint already)
_DSIR_BUCKET_SQL = (
    f"CAST(FLOOR((((CAST(unicode(substring(text, CAST(i AS INT), 1)) AS BIGINT)"
    f" * 131"
    f" + unicode(substring(text, CAST(i AS INT) + 1, 1))) * 131"
    f" + unicode(substring(text, CAST(i AS INT) + 2, 1)))"
    f" % {_DSIR_HMOD}"
    f" * {_DSIR_MIX} % {1 << 32}) / {_DSIR_SHIFT}.0) AS BIGINT)"
)


@register(
    "s16_dsir_reweight",
    oracle=f"""
WITH grams AS (
  SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS b
  FROM documents, UNNEST(range(1, LENGTH(text) - {DSIR_GRAM - 2})) AS r(i)
  WHERE LENGTH(text) >= {DSIR_GRAM}
),
stats AS (
  SELECT b,
         COUNT(*) AS cc,
         SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS ct
  FROM grams GROUP BY b
),
tot AS (
  SELECT SUM(cc) AS nc, SUM(ct) AS nt FROM stats
),
w AS (
  SELECT b,
         FLOOR(CAST(ct * nc AS DOUBLE) / CAST(cc * nt AS DOUBLE)
               * {_DSIR_SCALE}.0) AS wq
  FROM stats, tot
)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CAST(w.wq AS DECIMAL(38,0))) AS DOUBLE)
         / {_DSIR_SCALE}.0 / COUNT(*) AS dsir_score,
       CAST(SUM(CAST(w.wq AS DECIMAL(38,0))) AS DOUBLE)
         / {_DSIR_SCALE}.0 / COUNT(*) > 1.0 AS upweight
FROM grams g JOIN w USING (b)
GROUP BY g.doc_id
""",
    tags=("setop", "sampling", "mixing", "dsir"),
)
def s16_dsir_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance reweighting (Xie et al., "Data Selection
    for Language Models via Importance Resampling") — the data-mixing
    stage that upweights raw-corpus documents resembling a target
    distribution without training a classifier: character {n}-grams
    hash into {B} buckets (t12's vocabulary-free hashing-trick family);
    each bucket's weight is the target/corpus likelihood ratio
    (ct/Nt)/(cc/Nc) — computed as one division of exact integer
    products — and a document's score is its mean gram weight. Score >1
    means "looks more like the target than the average document"; the
    published method samples with these weights (s12's A-Res machinery
    composes directly), the simplification here is ratio-of-counts in
    place of smoothed log-likelihoods (libm-free, oracle-exact; the
    plan shape is identical).

    Plan shape: every gram is hashed ONCE into a materialized
    (doc_id, int-array) relation (~4 B/gram; hashing once instead of
    once per pass measured 7.4 s -> 3.9 s at sf0.1 in the original md5
    form, and replacing the per-gram md5 digest with the integer
    multiplicative hash over a once-per-doc code-point array took it
    below 2 s — both engines compute it natively, see _DSIR_BUCKET_SQL;
    the pin is a reliable checkpoint under a checkpoint dir). Bucket stats are ONE partial-agg shuffle of (bucket, two
    counters) — at most {B} groups; the weights collapse to a dense
    {B}-slot array broadcast onto the bucket relation, and the per-doc
    score is a MAP-ONLY fold through O(1) array indexing — no second
    shuffle at all. The score ships
    UNROUNDED: it is already bit-identical cross-engine (exact integer
    sum, two correctly-rounded divisions), and a cosmetic ROUND(x, 6)
    would REINTRODUCE nondeterminism — sum/n lands exactly on a half-µ
    tie for ~1/2n of documents, where Spark's BigDecimal HALF_UP and
    DuckDB's double-math rounding disagree (observed at sf0.01). Nothing scales with
    anything but the corpus; the weight table is fixed-size by
    construction — the same property that makes DSIR runnable at
    100 TB while classifier-filtering needs inference over every row.

    Target sample = lang='{T}' documents (a fixture stand-in for "a
    Wikipedia-quality seed corpus").
    """
    assert DSIR_GRAM == 3  # the unrolled 3-term hash below
    d = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= DSIR_GRAM
    )
    # per-doc code-point array computed ONCE (split to chars + ascii),
    # then each gram's bucket is pure integer arithmetic over three
    # array lookups — no per-gram digest at all
    codes = F.transform(F.split("text", ""), lambda c: F.ascii(c).cast("bigint"))
    el = lambda cs, i: F.element_at(cs, i.cast("int"))  # noqa: E731
    bucket_of = lambda cs, i: F.floor(  # noqa: E731
        (
            ((el(cs, i) * 131 + el(cs, i + 1)) * 131 + el(cs, i + 2))
            % _DSIR_HMOD  # bound h so h * MIX fits int64 (see _DSIR_HMOD)
            * _DSIR_MIX
            % (1 << 32)
        )
        / F.lit(float(_DSIR_SHIFT))
    )
    # hash every gram ONCE: both the bucket-stats pass and the scoring
    # pass read this materialized (doc_id, lang, int-array) relation —
    # ~4 B/gram, far smaller than re-running the gram hash per pass
    bk = (
        d.select("doc_id", "lang", codes.alias("_cs"))
        .select(
            "doc_id",
            "lang",
            F.transform(
                F.sequence(F.lit(1), F.size("_cs") - (DSIR_GRAM - 1)),
                lambda i: bucket_of(F.col("_cs"), i),
            ).alias("bks"),
        )
        .transform(pin)
    )
    grams = bk.select("doc_id", "lang", F.explode("bks").alias("b"))
    stats = grams.groupBy("b").agg(
        F.count(F.lit(1)).alias("cc"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("ct"),
    )
    # corpus/target gram totals as a window over the 4096-bucket stats
    # spine (r7 plan audit): the former .agg()-and-crossJoin-back form
    # re-derived `stats` — a second explode+aggregate pass over the
    # pinned bucket relation (bk is checkpointed, so no corpus re-scan,
    # but the gram explode is the expensive half of this query).
    _wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w = stats.withColumn("nc", F.sum("cc").over(_wall)).withColumn(
        "nt", F.sum("ct").over(_wall)
    ).select(
        "b",
        # products go through DECIMAL(38,0): Spark long*long silently
        # wraps past ~3e9 grams. The oracle is safe for a different
        # reason: its ct/nt are SUM() results, which DuckDB types as
        # HUGEINT (BIGINT*BIGINT does NOT auto-promote — it errors
        # loudly on overflow), so every oracle product has a HUGEINT
        # operand. Fixture values are identical either way.
        # try_divide: nt=0 (zero target-language grams in the whole
        # corpus) must yield NULL like the oracle's division — ANSI
        # mode would otherwise raise DIVIDE_BY_ZERO
        F.floor(
            F.try_divide(
                (F.col("ct").cast("decimal(38,0)") * F.col("nc")).cast("double"),
                (F.col("cc").cast("decimal(38,0)") * F.col("nt")).cast("double"),
            )
            * F.lit(float(_DSIR_SCALE))
        ).alias("wq"),
    )
    # scoring pass is MAP-ONLY: the weights collapse to one DENSE
    # 4096-slot array row (position j+1 = bucket j; densified ONCE at
    # build time through a map — Spark map element_at is a linear scan,
    # fine for a single 4096-wide row, ruinous per gram), broadcast
    # onto the checkpointed bucket relation; each doc folds its gram
    # buckets through O(1) array indexing — no second explode, no
    # 10M-row join, and no re-hash (bk is materialized above). Summing
    # exact integer wq in any order = the oracle's SUM(DECIMAL)
    # bit-for-bit.
    # NO coalesce: the per-doc fold only reads buckets that exist in
    # stats (they came from the same corpus), and a NULL wq (nt=0: zero
    # target-language grams in the whole corpus) must PROPAGATE to a
    # NULL score exactly as the oracle's NULL division does, not
    # silently become 0.0. The DENSIFICATION below, by contrast, reads
    # all {B} slots, so absent buckets ARE looked up there —
    # try_element_at makes the intended NULL-on-missing explicit
    # (bare map element_at's missing-key behavior has been
    # ANSI-version-sensitive across Spark releases)
    warr = w.agg(
        F.map_from_entries(F.collect_list(F.struct("b", "wq"))).alias("wmap")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(DSIR_BUCKETS - 1)),
            lambda j: F.try_element_at("wmap", j),
        ).alias("warr")
    )
    barrier = bk.crossJoin(F.broadcast(warr)).select("doc_id", "warr", "bks")
    per_doc = barrier.select(
        "doc_id",
        F.size("bks").cast("bigint").alias("n_grams"),
        F.aggregate(
            "bks",
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, b: acc
            + F.element_at("warr", (b + 1).cast("int")).cast("decimal(38,0)"),
        ).alias("sumq"),
    )
    score = (
        F.col("sumq").cast("double")
        / F.lit(float(_DSIR_SCALE))
        / F.col("n_grams")
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        score.alias("dsir_score"),
        (score > 1.0).alias("upweight"),
    )


if s16_dsir_reweight.__doc__:  # absent under python -OO
    s16_dsir_reweight.__doc__ = s16_dsir_reweight.__doc__.format(
        n=DSIR_GRAM, B=DSIR_BUCKETS, T=DSIR_TARGET_LANG
    )


@register(
    "s17_interleaved_schedule",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source,
         md5('ilv42:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
ranked AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY k, doc_id)
              AS BIGINT) AS rank_in_source,
         CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_source
  FROM keyed
),
frac AS (
  SELECT doc_id, source, rank_in_source, n_source,
         CAST(rank_in_source AS DOUBLE) / n_source AS progress
  FROM ranked
)
SELECT doc_id, source, rank_in_source, n_source, progress,
       CAST(ROW_NUMBER() OVER (ORDER BY progress, source, rank_in_source)
            AS BIGINT) AS global_pos
FROM frac
""",
    tags=("setop", "schedule", "training"),
)
def s17_interleaved_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PROPORTIONAL INTERLEAVE of sources into one
    training order — the data schedule that consumes every source at a
    rate proportional to its size, so a 10x-bigger source appears 10x
    as often but every source finishes its epoch at the same moment
    (the fixed-ratio interleaving heterogeneous-mixture training uses;
    naive concatenation trains on one source for hours, and per-batch
    random sampling is not reproducible).

    Mechanics: within each source, documents get a reproducible
    pseudo-random order (md5(seed || doc_id), s10's append-stable
    discipline); a document's schedule key is its fractional PROGRESS
    through its source (rank/n — one exact IEEE division, identical on
    both engines); the global order sorts by progress with a (source,
    rank) tie-break, so equal fractions (e.g. 1/2 vs 2/4) interleave
    deterministically instead of engine-dependently.

    Scale shape (VERDICT r8 task 2 — no corpus-global window): the
    per-source rank/count windows partition by source (parallel), and
    global_pos rides :func:`kinesis_spark.ordering.global_row_number` —
    range-partition on the total schedule key, per-partition local
    rank, broadcast cumulative offsets (one bounded 32-row collect).
    No row ever funnels through a single task; the plan carries no
    SinglePartition exchange (asserted in tests/test_plans.py). The
    schedule key is unique per row — (source, rank_in_source) is a
    key — so global_pos is exact wherever the range boundaries fall."""
    from kinesis_spark.ordering import global_row_number

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "source",
        F.md5(F.concat(F.lit("ilv42:"), F.col("doc_id").cast("string"))).alias("k"),
    )
    w_src = Window.partitionBy("source").orderBy("k", "doc_id")
    ranked = keyed.select(
        "doc_id",
        "source",
        F.row_number().over(w_src).cast("bigint").alias("rank_in_source"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("n_source"),
    )
    progress = F.col("rank_in_source").cast("double") / F.col("n_source")
    return global_row_number(
        ranked.withColumn("progress", progress),
        ["progress", "source", "rank_in_source"],
        "global_pos",
    ).select(
        "doc_id", "source", "rank_in_source", "n_source", "progress",
        "global_pos",
    )
