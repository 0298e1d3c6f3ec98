"""Oracle-backed companions for the three oracle-less queries (a8, d8,
sim5), closing VERDICT round-1 item 7.

MLlib hash families and sketch internals can't be replayed by DuckDB, so
a8/d8/sim5 themselves carry rows-only driver checks. Each companion here
re-verifies the approximate operator's OUTPUT against an exact computation
that DuckDB *can* replay, turning the semantic guarantee (recall, error
bound) into a bit-exact driver row:

- ``d8c``  — d8's MLlib candidate pairs, re-scored by exact shingle-set
  Jaccard and thresholded. MinHashLSH is seed-deterministic and, at the
  0.6-distance threshold on this corpus, finds exactly the true pair set
  (verified at sf0.001 and sf0.01), so the result equals the exact
  all-pairs answer — which is the oracle. A recall regression in MLlib
  would surface as a driver mismatch, which is the point of the gate.
- ``sim5c`` — sim5's ANN top-5 per query, intersected with the exact
  euclidean top-5 (computed in-Spark, brute force): emits one row per
  query asserting recall@5 >= 0.8. Oracle = the same assertion as SQL
  literals over the query ids.
- ``a8c``  — a8's HLL++ / percentile_approx estimates checked against
  exact COUNT(DISTINCT) / percentile(0.5): exact values ride along as
  bigints, the sketch estimates collapse to within-bound booleans
  (HLL rsd=0.02 → 5% + slack bound; percentile accuracy=10000 → 2%
  relative bound; observed errors are 0% and <=0.7%).
- ``p5c``  — p5's documented at-scale variant (approx_percentile
  curriculum thresholds) made real and gated: the approximate
  thresholds' RANKS are checked against the published n/accuracy rank
  bound, with the exact thresholds riding along bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_spark.io import load_table
from kinesis_spark.minhash import _SHINGLES_SQL, _shingles_of, _tokens_barrier
from kinesis_spark.queries import register

# Fixed deterministic corpus bound for the d8c instrument (the d21
# discipline): verifies the MLlib machinery exactly at a fixed cost —
# the uncapped corpus-wide form was the d-family's one superlinear
# 30x row (40.3x, SCALE_D30).
D8C_SUBSET = 200


@register(
    "d8c_mllib_pairs_exact_jaccard",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles
  FROM documents
  WHERE doc_id < {D8C_SUBSET}
    AND len(regexp_split_to_array(text, '[ \\t\\n\\f\\r\\x0B]+')) >= 3
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_inter,
         CAST(len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_union
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, n_inter, n_union,
       CAST(n_inter AS DOUBLE) / n_union AS jaccard
FROM pairs
WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.4
""",
    tags=("dedup", "minhash", "mllib", "companion"),
)
def d8c_mllib_pairs_exact_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d8's MinHashLSH candidates re-verified by exact word-3-shingle
    Jaccard (the d4 pattern applied to d8's candidate set), on a FIXED
    deterministic {D8C_SUBSET}-document subset (r10 — the d21
    discipline): the companion is a correctness INSTRUMENT for the
    MLlib machinery, and MLlib's uncapped 1-row bands made the
    corpus-wide form the d-family's one superlinear 30x row (40.3x,
    SCALE_D30 — candidate volume quadratic in dup-group width with no
    cap available through the MLlib API). Bounding the instrument's
    input keeps the verification exact and the cost fixed; the
    DETECTION face (d8) stays corpus-wide with its scale caveat
    documented. The exact rescoring touches only candidate pairs — LSH
    did the pruning — so the Spark side never goes all-pairs; the
    oracle's subset all-pairs join is the DuckDB-side cost of
    checkability, not the operator's shape."""
    from kinesis_spark.queries.mllib_lsh import d8_minhash_lsh_mllib

    cand = d8_minhash_lsh_mllib(spark, sf_dir, max_doc_id=D8C_SUBSET).select(
        "doc_a", "doc_b"
    )
    sh = _tokens_barrier(
        load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < D8C_SUBSET
        ),
        min_words=3,
    ).select("doc_id", _shingles_of(F.col("toks")).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("n_inter"),
            (
                F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))
            ).cast("bigint").alias("n_union"),
        )
        .withColumn("jaccard", F.col("n_inter").cast("double") / F.col("n_union"))
    )
    return scored.filter(F.col("jaccard") >= 0.4)


if d8c_mllib_pairs_exact_jaccard.__doc__:  # absent under python -OO
    d8c_mllib_pairs_exact_jaccard.__doc__ = (
        d8c_mllib_pairs_exact_jaccard.__doc__.format(D8C_SUBSET=D8C_SUBSET)
    )


@register(
    "sim5c_brp_recall_vs_exact",
    oracle="""
SELECT DISTINCT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings
WHERE vec_id < 10
""",
    tags=("similarity", "ann", "mllib", "companion"),
)
def sim5c_brp_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim5's BRP-LSH top-5 checked against the exact euclidean top-5
    per query: recall@5 must be >= 0.8 (observed: >= 4/5 hits at every
    SF; seeded hashing keeps it deterministic). The exact side is a
    broadcast of the 10-query set against the corpus — linear scan, the
    same brute-force tier as sim1."""
    from kinesis_spark.queries.mllib_lsh import sim5_brp_ann_mllib

    ann = sim5_brp_ann_mllib(spark, sf_dir).select("query_id", "match_id")
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dists = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("match_id"),
            F.sqrt(
                F.aggregate(
                    F.zip_with("qv", "v", lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, z: acc + z,
                )
            ).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("match_id"))
    exact5 = dists.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)
    hits = (
        exact5.join(ann, ["query_id", "match_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # left join from the query set so a catastrophic recall collapse
    # (0 hits for a query) still yields a row — as FALSE, not absence.
    qids = q.select("query_id")
    return (
        qids.join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= 4).alias("recall_ok"),
        )
    )


# a8c_sketch_error_bounds lived here through r6; VERDICT r6 task 6
# folded it into a8_sketch_aggregates itself (queries/aggregates.py), so
# the a* family no longer needs a companion.


def _p5c_oracle() -> str:
    from kinesis_spark.queries import REGISTRY, textstats  # noqa: F401

    t2_sql = REGISTRY["t2_quality_score"].oracle
    arms = "\nUNION ALL\n".join(
        f"SELECT CAST({q} AS DOUBLE) AS quantile, q{i + 1} AS exact_thr,"
        f" TRUE AS rank_ok FROM thr"
        for i, q in enumerate(("0.25", "0.5", "0.75"))
    )
    return f"""
WITH scored AS ({t2_sql}),
thr AS (
  SELECT quantile_cont(quality_score, 0.25) AS q1,
         quantile_cont(quality_score, 0.50) AS q2,
         quantile_cont(quality_score, 0.75) AS q3
  FROM scored
)
{arms}
"""


P5C_ACCURACY = 10_000


@register(
    "p5c_curriculum_approx_bounds",
    oracle=_p5c_oracle(),
    tags=("pipeline", "curriculum", "sketch", "companion"),
)
def p5c_curriculum_approx_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p5's at-scale variant, made real and driver-gated: curriculum
    thresholds from ``approx_percentile`` (fixed-size KLL-style buffer,
    true partial aggregation — the form that does NOT funnel 100 TB of
    values through one reducer, see p5's docstring caveat), each checked
    against the published guarantee. ``approx_percentile(accuracy=A)``
    bounds RANK error by n/A, so the check is rank-space: the count of
    scores <= the approximate threshold must sit within n/A (+2
    interpolation slack) of the target rank q*n. Value-space tolerances
    would be data-dependent; the rank bound is the actual contract.

    Exact thresholds ride along bit-exact (the a7 percentile bridge);
    the approximate values collapse to booleans the oracle asserts TRUE
    — a sketch regression flips one to FALSE and fails the hash gate.
    One corpus aggregation + one rank-count pass over the broadcast
    3-value threshold row; nothing driver-side but the 1-row stats.
    """
    from kinesis_spark.queries.textstats import t2_quality_score

    scored = t2_quality_score(spark, sf_dir).select("quality_score")
    stats = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(quality_score, array(0.25D, 0.5D, 0.75D))").alias("ex"),
        F.expr(
            f"approx_percentile(quality_score, array(0.25D, 0.5D, 0.75D),"
            f" {P5C_ACCURACY})"
        ).alias("ap"),
    )
    ranks = (
        scored.crossJoin(F.broadcast(stats))
        .agg(
            *[
                F.sum(
                    (F.col("quality_score") <= F.col("ap")[i]).cast("bigint")
                ).alias(f"r{i}")
                for i in range(3)
            ],
            F.first("n").alias("n"),
            F.first("ex").alias("ex"),
        )
    )
    tol = F.col("n").cast("double") / P5C_ACCURACY + 2.0
    arms = [
        ranks.select(
            F.lit(q).cast("double").alias("quantile"),
            F.col("ex")[i].alias("exact_thr"),
            (
                F.abs(F.col(f"r{i}").cast("double") - F.lit(q) * F.col("n"))
                <= tol
            ).alias("rank_ok"),
        )
        for i, q in enumerate((0.25, 0.5, 0.75))
    ]
    out = arms[0]
    for a in arms[1:]:
        out = out.unionAll(a)
    return out
