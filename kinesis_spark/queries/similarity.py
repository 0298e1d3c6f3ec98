"""Similarity search over the ``embeddings`` table (BASELINE north star).

Three tiers:
- sim1: brute-force cosine top-k — the correctness baseline. Cosine is a
  sequential double fold (bit-identical to DuckDB's
  list_cosine_similarity, verified); ranking uses the ROUNDED cosine +
  vec_id so the order is stable across engines and implementations.
- sim2: sign-LSH bucketed ANN — the scale path: bucket = sign bits of the
  first 8 components; candidates only join within a bucket (equi-join).
  At 100 TB this is the shape that avoids the all-pairs shuffle.
- sim3: per-label centroids via exact DECIMAL component sums — the
  building block for IVF-style coarse quantization.
- sim4: the same top-k as sim1 computed with an Arrow-batched Pandas UDF
  (numpy BLAS) — the vectorized fast path; shares sim1's oracle because
  ranking is on the rounded cosine.

Query set = first 10 vec_ids; k = 5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_spark.io import load_table
from kinesis_spark.pins import pin, pin_shared
from kinesis_spark.queries import register

N_QUERIES = 10
TOP_K = 5

_TOPK_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
  FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
)
SELECT query_id, match_id, cos_sim, rank
FROM (
  SELECT query_id, match_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, match_id) AS BIGINT) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


def _norm(v):
    return F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )


def _cosine_pre(va, vb, na, nb):
    """Cosine from precomputed per-ROW norms: only the dot-product fold
    runs per pair (norms are evaluated once per row below the join —
    same fp result, ~3× less interpreted-HOF work per pair)."""
    dot = F.aggregate(F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    return F.round(dot / (na * nb), 6)


def _d2(a, b):
    """Squared L2 between two double arrays, rounded to 6 dp — the
    file-wide fp-comparison bridge (see sim1's cos_sim). Shared by the
    PQ assignment (sim10) and the k-means argmin (sim11)."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _doubled(df):
    d = df.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return d.withColumn("norm", _norm(F.col("v")))


Q_SCALE = 1073741824.0  # 2^30 — the exact-mean quantization scale


def _exact_mean_cells(df, keys: list[str], scale: float = Q_SCALE):
    """THE determinism-critical centroid kernel, one definition for every
    consumer (sim3's stats, the IVF codebook, both Lloyd levels):
    per-(keys, idx) component means computed as floor(comp * scale)
    (scaling by a power of two and floor are both exact double ops),
    summed exactly as DECIMAL(38,0), divided back — bit-identical in any
    IEEE-754 engine regardless of partial-aggregation order. Input needs
    columns (*keys, idx, comp); output (*keys, idx, c, n)."""
    return df.groupBy(*keys, "idx").agg(
        (
            F.sum(F.floor(F.col("comp") * F.lit(scale)).cast("decimal(38,0)"))
            .cast("double")
            / F.lit(scale)
            / F.count(F.lit(1))
        ).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )


@register("sim1_topk_cosine", oracle=_TOPK_ORACLE, tags=("similarity", "topk"))
def sim1_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (tiny) query set against the
    corpus — one narrow pass over the corpus, per-query top-k via window."""
    e = _doubled(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    c = e.select(F.col("vec_id").alias("match_id"), F.col("v").alias("cv"),
                 F.col("norm").alias("cnorm"))
    scored = (
        c.join(F.broadcast(q), F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            _cosine_pre(
                F.col("qv"), F.col("cv"), F.col("qnorm"), F.col("cnorm")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
    )


@register(
    "sim2_lsh_bucketed_ann",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_aggregate(list_transform(range(1, 9),
             i -> CASE WHEN embedding[CAST(i AS INT)] >= 0 THEN '1' ELSE '0' END),
             'string_agg', '') AS bucket
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id, q.bucket,
         ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
  FROM e q JOIN e c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, match_id, bucket, cos_sim, rank
FROM (
  SELECT query_id, match_id, bucket, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, match_id) AS BIGINT) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
""",
    tags=("similarity", "ann", "lsh"),
)
def sim2_lsh_bucketed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN: candidates share the 8-bit sign bucket of their first
    components (a fixed, deterministic hyperplane set). Recall is partial —
    that's the ANN trade — but the candidate join is an equi-join on an
    8-char key instead of an all-pairs product."""
    e = load_table(spark, sf_dir, "embeddings")
    bucket = F.concat(
        *[
            F.when(F.element_at("embedding", i) >= 0, "1").otherwise("0")
            for i in range(1, 9)
        ]
    )
    ed = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        bucket.alias("bucket"),
    ).withColumn("norm", _norm(F.col("v")))
    q = ed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket",
        F.col("norm").alias("qnorm"),
    )
    c = ed.select(F.col("vec_id").alias("match_id"), F.col("v").alias("cv"),
                  F.col("bucket").alias("cbucket"), F.col("norm").alias("cnorm"))
    scored = (
        q.join(c, (F.col("bucket") == F.col("cbucket"))
               & (F.col("match_id") != F.col("query_id")))
        .select("query_id", "match_id", "bucket",
                _cosine_pre(F.col("qv"), F.col("cv"),
                            F.col("qnorm"), F.col("cnorm")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
    )


@register(
    "sim3_label_centroids",
    oracle="""
SELECT label, idx,
       CAST(SUM(CAST(FLOOR(CAST(comp AS DOUBLE) * 1073741824.0) AS DECIMAL(38,0)))
            AS DOUBLE) / 1073741824.0 / COUNT(*) AS mean_component,
       COUNT(*) AS n_vecs
FROM (
  SELECT label, CAST(i AS BIGINT) AS idx, embedding[CAST(i AS INT)] AS comp
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
)
GROUP BY label, idx
""",
    tags=("similarity", "centroid"),
)
def sim3_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components (IVF coarse-quantizer building block).

    Determinism: components are quantized to exact integers with
    ``floor(comp * 2^30)`` (scaling by a power of two and floor are both
    exact double ops — identical in every engine, unlike double→DECIMAL
    casts which round representation ties differently), summed exactly as
    DECIMAL(38,0), then divided back. Centroid error ≤ 2^-30 per element.
    """
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode(F.col("embedding")).alias("idx0", "comp")
    ).select(
        "label",
        (F.col("idx0") + 1).cast("bigint").alias("idx"),
        F.col("comp").cast("double").alias("comp"),
    )
    return _exact_mean_cells(exploded, ["label"]).select(
        "label",
        "idx",
        F.col("c").alias("mean_component"),
        F.col("n").alias("n_vecs"),
    )


@register("sim4_topk_pandas", oracle=_TOPK_ORACLE, tags=("similarity", "pandas-udf"))
def sim4_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same top-k as sim1, computed with an Arrow-batched Pandas UDF
    (numpy matmul) — the vectorized fast path for wide fan-outs. BLAS
    accumulation order differs from a sequential fold, but ranking on the
    6-dp-rounded cosine keeps results identical.

    The query matrix is tiny (k vectors) and rides into the closure; the
    corpus streams through mapInPandas partition-parallel — no driver
    collect of the corpus, no all-pairs shuffle.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )  # k×64 floats — a broadcast-sized side input, not a corpus collect
    q_ids = [int(r.vec_id) for r in q_rows]
    q_mat = [[float(x) for x in r.embedding] for r in q_rows]
    top_k = TOP_K

    def score_partition(batches):
        # self-contained closure (no module refs) → unpickles anywhere
        import numpy as np
        import pandas as pd

        qm = np.asarray(q_mat, dtype=np.float64)
        qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
        qid_arr = np.asarray(q_ids)
        for batch in batches:
            if not len(batch):
                continue
            ids = batch["vec_id"].to_numpy()
            cm = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in batch["embedding"]]
            )
            cn = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = qn @ cn.T  # (k, batch)
            k, n = sims.shape
            flat = sims.ravel()
            # HALF-AWAY-FROM-ZERO rounding, matching Spark's F.round and
            # DuckDB's ROUND — np.round is half-to-even and can diverge
            # on exact .5 boundaries (dyadic cosines), breaking the
            # shared oracle's ranking
            rounded = np.copysign(np.floor(np.abs(flat) * 1e6 + 0.5) / 1e6, flat)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qid_arr, n),
                    "match_id": np.tile(ids, k),
                    "cos_sim": rounded,
                }
            )
            out = out[out.query_id != out.match_id]
            # per-batch prune: keep top_k per query to shrink the
            # shuffle. na_position='first' ranks NaN cosines (zero-norm
            # or NaN-component vectors) HIGHEST, matching Spark's desc
            # and DuckDB's ORDER BY DESC NaN semantics — the default
            # 'last' would silently drop rows the final window keeps
            out = (
                out.sort_values(["query_id", "cos_sim", "match_id"],
                                ascending=[True, False, True],
                                na_position="first")
                .groupby("query_id", sort=False)
                .head(top_k)
            )
            yield out

    scored = e.select("vec_id", "embedding").mapInPandas(
        score_partition,
        schema="query_id long, match_id long, cos_sim double",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
    )


N_PROBE = 2  # IVF cells searched per query


def ivf_codebook(e):
    """Coarse codebook: exact per-label centroids via the shared
    quantized-mean kernel (both engines compute identical component
    means). Input: (vec_id, label, v double[]); output: (cell, cv
    double[])."""
    exploded = e.select("label", F.posexplode("v").alias("idx", "comp"))
    return (
        _exact_mean_cells(exploded, ["label"])
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "c"))).alias("pairs"))
        .select(
            F.col("label").alias("cell"),
            F.transform("pairs", lambda p: p["c"]).alias("cv"),
        )
    )


def ivf_assign(e, cent):
    """Rank every vector against every (broadcast) centroid: crk=1 is
    the owning cell, crk<=nprobe are a query's probe cells. Squared
    euclidean argmin ROUNDED to 6 dp (the file-wide fp bridge — an
    unrounded ranking can tie-break differently from the oracle's
    sqrt-space comparison on near-tie centroids), cell-id tiebreak —
    deterministic."""
    w_assign = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cell"))
    return (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "v", "cell", _d2(F.col("v"), F.col("cv")).alias("d2"))
        .withColumn("crk", F.row_number().over(w_assign))
    )



@register(
    "sim6_ivf_ann",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
centroids AS (
  SELECT label, list(mc ORDER BY idx) AS cv
  FROM (
    SELECT label, CAST(i AS BIGINT) AS idx,
           CAST(SUM(CAST(FLOOR(CAST(comp AS DOUBLE) * 1073741824.0) AS DECIMAL(38,0)))
                AS DOUBLE) / 1073741824.0 / COUNT(*) AS mc
    FROM (
      SELECT label, CAST(i AS BIGINT) AS i, embedding[CAST(i AS INT)] AS comp
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ) q GROUP BY label, i
  ) m GROUP BY label
),
assign AS (
  SELECT e.vec_id, e.v, c.label AS cell,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY ROUND(list_sum(list_transform(
                                range(1, len(e.v) + 1),
                                i -> (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                                   * (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 6),
                            c.label) AS crk
  FROM e CROSS JOIN centroids c
),
cells AS (SELECT vec_id, v, cell FROM assign WHERE crk = 1),
probes AS (
  SELECT vec_id AS query_id, v AS qv, cell AS probe_cell, crk AS probe_rank
  FROM assign WHERE vec_id < {N_QUERIES} AND crk <= {N_PROBE}
),
scored AS (
  SELECT p.query_id, c.vec_id AS match_id,
         ROUND(list_cosine_similarity(p.qv, c.v), 6) AS cos_sim
  FROM probes p JOIN cells c ON c.cell = p.probe_cell
  WHERE c.vec_id != p.query_id
)
SELECT query_id, match_id, cos_sim, rank
FROM (
  SELECT query_id, match_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, match_id) AS BIGINT) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
""",
    tags=("similarity", "ann", "ivf"),
)
def sim6_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN, the 100 TB scale path: (1) coarse codebook = exact
    per-label centroids (sim3's decimal quantization, so both engines
    compute identical codebooks); (2) every vector assigned to its
    nearest centroid (argmin euclidean, label tiebreak); (3) each query
    probes its {N_PROBE} nearest cells and reranks candidates by exact
    cosine. Corpus scan per query shrinks from N to ~N*nprobe/n_cells;
    the codebook is broadcast-sized by construction."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cent = ivf_codebook(e)
    # pin the assignment once: cells (crk==1) and probes (crk<=N_PROBE)
    # would otherwise each replay the crossJoin + per-vector window.
    # persist (not pin) keeps the subtree visible to plan
    # audits; this is the self-contained demo of what ann.py amortizes
    # properly (build the index once on disk, probe it many times).
    assign = pin_shared(
        ivf_assign(e, cent)
        .filter(F.col("crk") <= max(1, N_PROBE))
        .withColumn("norm", _norm(F.col("v")))
    )
    cells = assign.filter(F.col("crk") == 1).select(
        F.col("vec_id").alias("match_id"), F.col("v").alias("cv_vec"),
        F.col("norm").alias("cnorm"), "cell",
    )
    probes = assign.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("crk") <= N_PROBE)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"), "cell",
    )
    # rerank within probed cells by exact cosine; norms computed once per
    # ROW above the join (the _cosine_pre discipline), not per pair
    scored = (
        probes.join(cells, "cell")
        .filter(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            _cosine_pre(
                F.col("qv"), F.col("cv_vec"), F.col("qnorm"), F.col("cnorm")
            ).alias("cos_sim"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
    )


@register(
    "sim7_int8_quantization",
    oracle="""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
m AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e
),
s AS (
  SELECT vec_id, v, CAST(127 AS DOUBLE) / maxabs AS scale
  FROM m WHERE maxabs > 0
),
q AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(greatest(-127, least(127,
           floor(x * scale + 0.5))) AS BIGINT)) AS qv
  FROM s
)
SELECT vec_id, scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(list_max(qv) AS BIGINT) AS q_max,
       CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat,
       list_max(list_transform(v, x -> abs(x -
         CAST(greatest(-127, least(127, floor(x * scale + 0.5))) AS DOUBLE)
           / scale))) AS max_abs_err
FROM q
""",
    tags=("similarity", "quantization"),
)
def sim7_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    standard 4x shrink applied to ANN corpora before indexing. Per vector:
    scale = 127/max|x|, q_i = clamp(round(x_i*scale)) with an explicit
    floor(x+0.5) so Spark and DuckDB round identically; reports exact
    integer aggregates of the quantized vector plus the max reconstruction
    error (max is order-insensitive, so it is fp-deterministic, unlike a
    sum of errors).

    Scale shape: map-only single scan, no shuffle; the expensive per-row
    max|x| is materialized once behind a Generate barrier (the scale
    expression is referenced inside per-element lambdas, and HOF lambdas
    get no CSE — see minhash._tokens_barrier)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    b = e.select(
        "vec_id",
        "v",
        F.explode(
            F.array(F.array_max(F.transform("v", lambda x: F.abs(x))))
        ).alias("maxabs"),
    ).filter(F.col("maxabs") > 0)
    scale = F.lit(127.0) / F.col("maxabs")

    def quant(x):
        return F.greatest(
            F.lit(-127).cast("bigint"),
            F.least(F.lit(127).cast("bigint"), F.floor(x * scale + F.lit(0.5))),
        )

    qv = F.transform("v", quant)
    # quantize once per row behind a second barrier (qv is referenced by
    # five aggregates below; inlining would re-run the transform 5x)
    qb = b.select(
        "vec_id", "v", scale.alias("scale"), F.explode(F.array(qv)).alias("qv")
    )
    return qb.select(
        "vec_id",
        "scale",
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        F.size(F.filter("qv", lambda x: F.abs(x) == 127)).cast("bigint").alias("n_sat"),
        F.array_max(
            F.zip_with(
                "v",
                "qv",
                lambda x, q: F.abs(x - q.cast("double") / F.col("scale")),
            )
        ).alias("max_abs_err"),
    )


TRUNC_DIMS = 16  # Matryoshka-style prefix: first 16 of the embedding dims


@register(
    "sim8_dim_truncation_recall",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
full_ranked AS (
  SELECT query_id, match_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 6) DESC,
                      c.vec_id) AS rank
    FROM e q JOIN e c ON c.vec_id != q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rank <= {TOP_K}
),
trunc_ranked AS (
  SELECT query_id, match_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_cosine_similarity(q.v[1:{TRUNC_DIMS}],
                                                   c.v[1:{TRUNC_DIMS}]), 6) DESC,
                      c.vec_id) AS rank
    FROM e q JOIN e c ON c.vec_id != q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rank <= {TOP_K}
)
SELECT f.query_id,
       CAST(COUNT(t.match_id) AS BIGINT) AS n_overlap,
       CAST(COUNT(t.match_id) AS DOUBLE) / {TOP_K} AS recall
FROM full_ranked f
LEFT JOIN trunc_ranked t
  ON t.query_id = f.query_id AND t.match_id = f.match_id
GROUP BY f.query_id
""",
    tags=("similarity", "matryoshka", "recall"),
)
def sim8_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation quality measurement (the Matryoshka-embedding
    question): top-k by cosine over only the first 16 dims vs
    top-k over all dims — recall@k per query. The production use: decide
    whether the cheap prefix index can serve first-stage retrieval with
    full-dim rerank.

    Scale shape: both rankings are the sim1 broadcast-query pattern (one
    corpus pass each, per-query top-k windows); the recall join touches
    only 2*k rows per query.
    """
    e = _doubled(load_table(spark, sf_dir, "embeddings"))
    e = e.withColumn("tv", F.slice("v", 1, TRUNC_DIMS)).withColumn(
        "tnorm", _norm(F.col("tv"))
    )

    def ranked(vcol, ncol):
        q = e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col(vcol).alias("qv"),
            F.col(ncol).alias("qn"),
        )
        c = e.select(
            F.col("vec_id").alias("match_id"),
            F.col(vcol).alias("cv"),
            F.col(ncol).alias("cn"),
        )
        scored = c.join(
            F.broadcast(q), F.col("match_id") != F.col("query_id")
        ).select(
            "query_id",
            "match_id",
            _cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias(
                "cos_sim"
            ),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos_sim"), F.asc("match_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "match_id")
        )

    full = ranked("v", "norm")
    trunc = ranked("tv", "tnorm").withColumnsRenamed({"match_id": "t_match"})
    return (
        full.join(
            trunc,
            (full.query_id == trunc.query_id)
            & (F.col("match_id") == F.col("t_match")),
            "left",
        )
        .drop(trunc.query_id)
        .groupBy("query_id")
        .agg(
            F.count("t_match").cast("bigint").alias("n_overlap"),
            (F.count("t_match").cast("double") / TOP_K).alias("recall"),
        )
    )


SEMDEDUP_TAU = 0.3  # prune threshold (fixture-scaled; production ~0.95+)
SD_TARGET = 64  # target block population for the LSH sub-bucketing


@register(
    "sim9_semdedup_prune",
    oracle=f"""
WITH e0 AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         list_aggregate(list_transform(range(1, 65),
             i -> CASE WHEN embedding[CAST(i AS INT)] >= 0 THEN '1' ELSE '0' END),
             'string_agg', '') AS signs
  FROM embeddings
),
e AS (
  SELECT vec_id, label, v,
         substring(signs, 1,
                   CASE WHEN m <= 1 THEN 0
                        ELSE LEAST(length(bin(m - 1)), 64) END) AS bucket
  FROM (
    SELECT *, CAST(CEIL(COUNT(*) OVER (PARTITION BY label) / {SD_TARGET}.0)
                   AS BIGINT) AS m
    FROM e0
  )
),
dups AS (
  SELECT b.vec_id, MIN(a.vec_id) AS dup_of
  FROM e a JOIN e b
    ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= {SEMDEDUP_TAU}
  GROUP BY b.vec_id
)
SELECT e.vec_id, e.label, d.dup_of IS NOT NULL AS pruned, d.dup_of
FROM e LEFT JOIN dups d USING (vec_id)
""",
    tags=("similarity", "dedup", "semdedup"),
)
def sim9_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning with BOUNDED blocks: within each
    embedding cluster (the ``label`` column — at 100 TB, a k-means/IVF
    cell id, see sim6/ann.py) vectors are further sub-bucketed by
    sign-LSH bits whose COUNT scales with the cluster's population —
    b = ceil(log2(ceil(n_label / {SD_TARGET}))) hyperplane signs — so the
    expected block size stays ~{SD_TARGET} no matter how large a cluster
    grows and the pair stage is linear in n. A vector is pruned when a
    LOWER-id vector in the same (label, bucket) block is semantically
    near (cosine >= 0.3 here; production ~0.95+); greedy min-id
    survivorship keeps the result deterministic and every pruned row
    records its canonical ``dup_of``.

    This replaces the earlier unbounded form (block = bare label), whose
    within-cluster pair space grew quadratically when cluster size grew
    with the corpus (measured 19.7x at 10x data in scripts/
    scale_stress.py) — the same mitigation discipline as d14's capped
    LSH buckets, applied adaptively. The bit count is integer-exact in
    both engines (length(bin(m-1)), never float log2), so the blocking
    is bit-identical to the oracle. Near neighbors that straddle a
    hyperplane sign can escape the prune — the standard LSH recall
    trade, priced against an unboundedly growing pair space; sim12
    makes the complementary choice (refined k-means cells).

    Scale shape: sub-bucketing is one window count per label + a
    map-side substring — no extra shuffle beyond the label partition;
    norms are computed once per ROW below the self-join so only the
    dot-product fold runs per pair; the prune decision is a pair-scale
    groupBy + a left join back onto the corpus keyed on vec_id.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    signs = F.array_join(
        F.transform("v", lambda x: F.when(x >= 0, "1").otherwise("0")), ""
    )
    m = F.ceil(
        F.count(F.lit(1)).over(Window.partitionBy("label"))
        / F.lit(float(SD_TARGET))
    ).cast("bigint")
    e = (
        e.withColumn("signs", signs)
        .withColumn("m", m)
        .withColumn(
            "nbits",
            F.when(F.col("m") <= 1, F.lit(0)).otherwise(
                F.least(F.length(F.bin(F.col("m") - 1)), F.lit(64))
            ),
        )
        .withColumn("bucket", F.expr("substring(signs, 1, nbits)"))
        .drop("signs", "m", "nbits")
        .withColumn("norm", _norm(F.col("v")))
    )
    a = e.alias("a")
    b = e.alias("b")
    cos = _cosine_pre(F.col("a.v"), F.col("b.v"), F.col("a.norm"), F.col("b.norm"))
    dups = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("b.vec_id").alias("vec_id"), cos.alias("cos_sim"),
                F.col("a.vec_id").alias("cand"))
        .filter(F.col("cos_sim") >= SEMDEDUP_TAU)
        .groupBy("vec_id")
        .agg(F.min("cand").alias("dup_of"))
    )
    return (
        e.select("vec_id", "label")
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            F.col("dup_of").isNotNull().alias("pruned"),
            "dup_of",
        )
    )


# sim10: product quantization (Jégou et al., "Product Quantization for
# Nearest Neighbor Search"). 64-dim vectors split into 4 subspaces of 16
# dims; each subspace gets a 16-entry codebook, so a vector compresses to
# 4 bytes. Codebook = the subvectors of the 16 lowest vec_ids — a
# deterministic stand-in for k-means training that both engines can
# reproduce exactly (the assignment/ADC machinery is identical either way).
PQ_SUBSPACES = 4
PQ_SUBDIM = 16
PQ_CENTROIDS = 16

_PQ_D2_SQL = (
    "ROUND(list_sum(list_transform(range(1, {n})," 
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)"
)


def _pq_d2_sql(a: str, b: str) -> str:
    return _PQ_D2_SQL.format(a=a, b=b, n=PQ_SUBDIM + 1)


_PQ_ADC_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
sub AS (
  SELECT vec_id, ss.s, v[(ss.s * {PQ_SUBDIM} + 1):(ss.s * {PQ_SUBDIM} + {PQ_SUBDIM})] AS sv
  FROM e, (SELECT unnest(range({PQ_SUBSPACES})) AS s) ss
),
cb AS (
  SELECT vec_id AS cid, s, sv FROM sub WHERE vec_id < {PQ_CENTROIDS}
),
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT x.vec_id, x.s, c.cid,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.s
                              ORDER BY {_pq_d2_sql('x.sv', 'c.sv')}, c.cid) AS rn
    FROM sub x JOIN cb c ON c.s = x.s
  ) WHERE rn = 1
),
lut AS (
  SELECT q.vec_id AS query_id, c.s, c.cid,
         {_pq_d2_sql('q.sv', 'c.sv')} AS qd2
  FROM sub q JOIN cb c ON c.s = q.s
  WHERE q.vec_id < {N_QUERIES}
),
adc AS (
  SELECT l.query_id, co.vec_id AS match_id,
         CAST(SUM(CAST(l.qd2 AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
  FROM codes co JOIN lut l ON l.s = co.s AND l.cid = co.cid
  GROUP BY l.query_id, co.vec_id
)
SELECT query_id, match_id, adc_dist, rank FROM (
  SELECT query_id, match_id, adc_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, match_id) AS BIGINT) AS rank
  FROM adc WHERE match_id != query_id
) WHERE rank <= {TOP_K}
"""


@register(
    "sim10_pq_adc",
    oracle=_PQ_ADC_ORACLE,
    tags=("similarity", "pq", "ann", "compression"),
)
def sim10_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC): vectors compress to 4 one-byte codes (one per 16-dim
    subspace, 16-entry codebooks); a query is answered by building a
    4x16 lookup table of query-to-centroid squared distances and
    summing 4 table entries per candidate — the memory-bound scan that
    makes billion-vector search feasible (16x compression here; real
    deployments use 8-64 subspaces the same way).

    Plan shape at 100 TB: the codebook (64 subvectors) and the per-query
    LUT (queries x 64 entries) are the ONLY broadcast sides; the corpus
    is scanned once, code assignment is a row-local argmin over an
    array-typed codebook column (array_min over (dist, cid) structs —
    no per-centroid shuffle), and the ADC sum is one narrow groupBy of
    (query, vector, 4 decimal terms). Nothing corpus-sized is ever
    broadcast, collected, or cross-joined.

    Determinism: per-subspace distances are sequential double folds
    rounded to 6 dp (the d5/sim1-verified technique); the ADC sum adds
    the 4 rounded terms as exact DECIMAL(18,6); argmin and top-k
    tie-break on centroid id / match id."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    subs = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("bigint").alias("s"),
                        F.slice("v", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
                    )
                    for s in range(PQ_SUBSPACES)
                ]
            )
        ).alias("p"),
    ).select("vec_id", "p.s", "p.sv")

    # the codebook subtree (embeddings scan w/ pushed vec_id<16 filter +
    # subspace explode) fed BOTH cb_arr and lut and was replayed per
    # consumer; a shared pin of the 64-row relation runs it once
    # (OPTIMIZATION r11, guide §2.4 — sim10's plan drops one scan, and
    # sim10c, which composes sim10, drops two)
    cb = pin_shared(
        subs.filter(F.col("vec_id") < PQ_CENTROIDS).select(
            F.col("vec_id").alias("cid"), "s", F.col("sv").alias("cv")
        )
    )
    # per-subspace codebook as ONE array column → row-local argmin below
    cb_arr = cb.groupBy("s").agg(
        F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents")
    )
    best = (
        subs.join(F.broadcast(cb_arr), "s")
        .select(
            "vec_id",
            "s",
            F.array_min(
                F.transform(
                    "cents",
                    lambda c: F.struct(
                        _d2(F.col("sv"), c["cv"]).alias("d2"), c["cid"].alias("cid")
                    ),
                )
            )["cid"].alias("cid"),
        )
    )
    lut = (
        subs.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "s", F.col("sv").alias("qsv"))
        .join(F.broadcast(cb), "s")
        .select(
            "query_id", "s", "cid", _d2(F.col("qsv"), F.col("cv")).alias("qd2")
        )
    )
    adc = (
        best.join(F.broadcast(lut), ["s", "cid"])
        .groupBy("query_id", F.col("vec_id").alias("match_id"))
        .agg(
            F.sum(F.col("qd2").cast("decimal(18,6)")).cast("double").alias("adc_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("match_id"))
    return (
        adc.filter(F.col("match_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
    )


@register(
    "sim10c_pq_recall_vs_exact",
    oracle=f"""
WITH exact AS (SELECT * FROM ({_TOPK_ORACLE})),
pq AS (SELECT * FROM ({_PQ_ADC_ORACLE})),
hits AS (
  SELECT e.query_id, COUNT(*) AS n_hits
  FROM exact e JOIN pq p
    ON e.query_id = p.query_id AND e.match_id = p.match_id
  GROUP BY e.query_id
),
qs AS (SELECT DISTINCT query_id FROM exact)
SELECT q.query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {TOP_K} AS recall_at_{TOP_K}
FROM qs q LEFT JOIN hits h USING (query_id)
""",
    tags=("similarity", "pq", "companion", "recall"),
)
def sim10c_pq_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies sim10's compression loss: per query, how many of the
    exact cosine top-5 (sim1) survive in the PQ/ADC top-5 — the
    recall@k curve every quantized index is judged by. Both sides are
    fully deterministic, so unlike the MLlib companions this one is a
    straight bit-exact join of two oracle-backed results.

    (ADC ranks by L2 distance while the exact baseline ranks by cosine;
    the fixture vectors are not normalized, so this also measures the
    metric mismatch a real deployment must account for — the measured
    fixture recall is reported by tests/test_sketches.py.)

    Scale shape: composes two already-audited plans and joins their
    (queries x k)-sized outputs — driver-window cost, corpus cost
    unchanged from sim1/sim10."""
    exact = sim1_topk_cosine(spark, sf_dir).select("query_id", "match_id")
    pq = sim10_pq_adc(spark, sf_dir).select("query_id", "match_id")
    hits = (
        exact.join(pq, ["query_id", "match_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qs = exact.select("query_id").distinct()
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)).cast("double") / TOP_K).alias(
            f"recall_at_{TOP_K}"
        ),
    )



# ---- sim11: iterative k-means (Lloyd) refinement --------------------------

KM_K = 8  # clusters; seeds = the first KM_K vec_ids (deterministic init)
KM_ITERS = 2  # assignment->recompute rounds before the reported assignment
KM_SCALE = Q_SCALE  # SQL-template alias for the shared quantization scale
_KM_DIM = 64


def _km_d2_sql(v: str, c: str) -> str:
    # squared L2 rounded to 6 dp — the same quantize-then-compare bridge
    # every fp comparison in this module uses (see sim1's cos_sim)
    return (
        f"ROUND(list_sum(list_transform(range(1, {_KM_DIM + 1}), i ->"
        f" ({v}[CAST(i AS INT)] - {c}[CAST(i AS INT)])"
        f" * ({v}[CAST(i AS INT)] - {c}[CAST(i AS INT)]))), 6)"
    )


def _km_assign_sql(n: int, cents: str) -> str:
    return f"""
a{n} AS (
  SELECT vec_id, v, cid AS cluster FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_km_d2_sql('e.v', 'c.cv')}, c.cid) AS rn
    FROM e, {cents} c
  ) WHERE rn = 1
)"""


def _km_means_sql(n: int, assigned: str) -> str:
    return f"""
c{n} AS (
  SELECT cluster AS cid, list(c ORDER BY idx) AS cv FROM (
    SELECT cluster, CAST(i AS INT) AS idx,
           CAST(SUM(CAST(FLOOR(v[CAST(i AS INT)] * {KM_SCALE})
                         AS DECIMAL(38,0))) AS DOUBLE)
             / {KM_SCALE} / COUNT(*) AS c
    FROM {assigned}, UNNEST(range(1, {_KM_DIM + 1})) AS t(i)
    GROUP BY 1, 2
  )
  GROUP BY cluster
)"""


_KM_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {KM_K}),
{",".join(
    _km_assign_sql(i, f"c{i}") + "," + _km_means_sql(i + 1, f"a{i}")
    for i in range(KM_ITERS)
).lstrip()},
{_km_assign_sql(KM_ITERS, f"c{KM_ITERS}").lstrip()}
SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
       CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
FROM a{KM_ITERS}
"""


def _lloyd_clusters(vecs: DataFrame, k, iters: int) -> DataFrame:
    """Shared Lloyd machinery (sim11's plan shape, parameterized):
    seeds = the first ``k`` vec_ids, ``iters`` assign→recompute rounds
    (each recomputed centroid set is pinned — one tiny row — so
    the final plan replays nothing), then the final assignment.
    ``k`` may be a driver-side int OR a Column-free Python value derived
    from an eager count (sim12). Returns (vec_id, v, cluster)."""

    def assign(cents_row: DataFrame) -> DataFrame:
        scored = F.transform(
            F.col("cents"),
            lambda c: F.struct(
                _d2(F.col("v"), c["cv"]).alias("d"), c["cid"].alias("cid")
            ),
        )
        # array_min on (d, cid) structs = lexicographic argmin: nearest
        # centroid, smallest cid on rounded-distance ties
        return (
            vecs.join(F.broadcast(cents_row))
            .select("vec_id", "v", F.array_min(scored)["cid"].alias("cluster"))
        )

    def means(assigned: DataFrame) -> DataFrame:
        ex = assigned.select("cluster", F.posexplode("v").alias("idx", "comp"))
        cell = _exact_mean_cells(ex, ["cluster"])
        per = cell.groupBy("cluster").agg(
            F.array_sort(F.collect_list(F.struct("idx", "c"))).alias("pairs")
        )
        return per.select(
            F.col("cluster").alias("cid"),
            F.transform("pairs", lambda p: p["c"]).alias("cv"),
        ).agg(F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents"))

    cents = vecs.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    ).agg(F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents"))
    for _ in range(iters):
        cents = means(assign(cents)).transform(pin)
    return assign(cents)


@register(
    "sim11_kmeans_refine",
    oracle=_KM_ORACLE,
    tags=("similarity", "kmeans", "iterative", "clustering"),
)
def sim11_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means: KM_K seed centroids (the first KM_K
    vectors — deterministic init), KM_ITERS assign→recompute rounds, then
    the reported assignment ``(vec_id, cluster, cluster_size)``. The
    semantic-clustering primitive under SemDedup-style pruning (sim9
    consumes exactly this partition) and IVF codebook training (sim6/ann
    use one such refinement).

    Iterative-algorithm shape for Spark:
    - centroids live in ONE driver-checkpointed row (an array of
      (cid, vector) structs) that BROADCASTS to every task — the corpus
      is scanned once per assignment, never shuffled by cluster for the
      argmin itself;
    - ``pins.pin`` truncates lineage each round (the d9 pattern,
      dedup.py) so the final plan replays nothing — without it the plan
      nests every prior round and re-scans exponentially;
    - centroid recompute is the ONLY shuffle per round: posexplode to
      (cluster, idx, quantized comp) partial-aggregates map-side into
      ≤ KM_K × 64 cells.

    Determinism: distances quantize to 6 dp with min-cid tie-break (the
    sim1 bridge); means use the sim3 exact-decimal quantized sum, so the
    recomputed centroid components are bit-identical doubles in any
    IEEE-754 engine and every round's assignment is reproducible.

    An empty cluster drops out of the centroid set (standard Lloyd
    degeneracy; the oracle's GROUP BY has the same semantics).
    """
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )

    final = _lloyd_clusters(vecs, KM_K, KM_ITERS)
    w = Window.partitionBy("cluster")
    return final.select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
    )


SD_TARGET_CLUSTER = 64  # bounded cluster size for sim12 (K scales with n)
KM_FINE_ITERS = 1  # fine-level refinement rounds inside each coarse cell
_FINE_MULT = 1048576  # 2^20: global cluster id = coarse * MULT + fine


def _fassign_sql(n: int, fcents: str) -> str:
    """Fine-level assignment CTE: every vector vs the fine centroids of
    ITS coarse cell only (equi-join on coarse, never a cross product)."""
    return f"""
fa{n} AS (
  SELECT vec_id, coarse, v, fcid FROM (
    SELECT g.vec_id, g.coarse, g.v, f.fcid,
           ROW_NUMBER() OVER (PARTITION BY g.vec_id
                              ORDER BY {_km_d2_sql('g.v', 'f.cv')}, f.fcid) AS rn
    FROM coarse g JOIN {fcents} f USING (coarse)
  ) WHERE rn = 1
)"""


def _fmeans_sql(n: int, assigned: str) -> str:
    return f"""
f{n} AS (
  SELECT coarse, fcid, list(c ORDER BY idx) AS cv FROM (
    SELECT coarse, fcid, CAST(i AS INT) AS idx,
           CAST(SUM(CAST(FLOOR(v[CAST(i AS INT)] * {KM_SCALE})
                         AS DECIMAL(38,0))) AS DOUBLE)
             / {KM_SCALE} / COUNT(*) AS c
    FROM {assigned}, UNNEST(range(1, {_KM_DIM + 1})) AS t(i)
    GROUP BY 1, 2, 3
  )
  GROUP BY coarse, fcid
)"""


_SD12_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
kk AS (
  SELECT GREATEST(8, CAST(CEIL(COUNT(*) / {SD_TARGET_CLUSTER}.0) AS BIGINT)) AS k
  FROM e
),
cc AS (
  SELECT GREATEST(2, CAST(CEIL(SQRT(CAST(k AS DOUBLE))) AS BIGINT)) AS c
  FROM kk
),
c0 AS (SELECT vec_id AS cid, v AS cv FROM e
       WHERE vec_id < (SELECT c FROM cc)),
{",".join(
    _km_assign_sql(i, f"c{i}") + "," + _km_means_sql(i + 1, f"a{i}")
    for i in range(KM_ITERS)
).lstrip()},
{_km_assign_sql(KM_ITERS, f"c{KM_ITERS}").lstrip()},
coarse AS (SELECT vec_id, v, cluster AS coarse FROM a{KM_ITERS}),
cellk AS (
  SELECT coarse, CAST(CEIL(COUNT(*) / {SD_TARGET_CLUSTER}.0) AS BIGINT) AS kcell
  FROM coarse GROUP BY coarse
),
f0 AS (
  SELECT s.coarse, s.rn - 1 AS fcid, s.v AS cv FROM (
    SELECT coarse, v,
           ROW_NUMBER() OVER (PARTITION BY coarse ORDER BY vec_id) AS rn
    FROM coarse
  ) s JOIN cellk USING (coarse) WHERE s.rn <= cellk.kcell
),
{",".join(
    _fassign_sql(i, f"f{i}") + "," + _fmeans_sql(i + 1, f"fa{i}")
    for i in range(KM_FINE_ITERS)
).lstrip()},
{_fassign_sql(KM_FINE_ITERS, f"f{KM_FINE_ITERS}").lstrip()},
fin AS (
  SELECT vec_id, v, coarse * {_FINE_MULT} + fcid AS cluster
  FROM fa{KM_FINE_ITERS}
),
dups AS (
  SELECT b.vec_id, MIN(a.vec_id) AS dup_of
  FROM fin a JOIN fin b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= {SEMDEDUP_TAU}
  GROUP BY b.vec_id
)
SELECT f.vec_id, CAST(f.cluster AS BIGINT) AS cluster,
       d.dup_of IS NOT NULL AS pruned, d.dup_of
FROM fin f LEFT JOIN dups d USING (vec_id)
"""


def _fine_assign(coarse_df: DataFrame, fcents: DataFrame) -> DataFrame:
    """Assign each vector to the nearest fine centroid WITHIN its coarse
    cell: an equi-join on the coarse id (shuffle-or-broadcast by
    Catalyst's size stats — never a forced single-row broadcast of the
    whole centroid set), then a per-vector argmin window."""
    j = coarse_df.join(fcents, "coarse").withColumn(
        "d2", _d2(F.col("v"), F.col("cv"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "fcid")
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "coarse", "v", "fcid")
    )


def _fine_means(assigned: DataFrame) -> DataFrame:
    """Exact-decimal per-(coarse, fine) centroid recompute — the shared
    quantized-mean kernel, keyed by cell instead of collapsed into one
    row."""
    ex = assigned.select("coarse", "fcid", F.posexplode("v").alias("idx", "comp"))
    cell = _exact_mean_cells(ex, ["coarse", "fcid"])
    return (
        cell.groupBy("coarse", "fcid")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "c"))).alias("pairs"))
        .select(
            "coarse", "fcid", F.transform("pairs", lambda p: p["c"]).alias("cv")
        )
    )


@register(
    "sim12_semdedup_bounded",
    oracle=_SD12_ORACLE,
    tags=("similarity", "dedup", "semdedup", "kmeans"),
)
def sim12_semdedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with BOUNDED clusters via a HIERARCHICAL (two-level)
    quantizer — the production shape whose absence makes the naive form
    quadratic. Level 1: C = ceil(sqrt(K)) coarse centroids (K = max(8,
    ceil(n / 64)) total target cells), refined with the shared Lloyd
    machinery — the per-vector coarse scan costs O(sqrt(K)) against a
    sqrt-scale broadcast row, never O(K). Level 2: within each coarse
    cell, ceil(cell_n / 64) fine centroids seeded from the cell's
    lowest vec_ids and refined per cell — fine centroids live as ROWS
    equi-joined on the coarse id (Catalyst picks broadcast vs shuffle
    from size stats), so no corpus-scale single-row broadcast exists
    anywhere in the plan (plan-audited). Per-vector assignment work is
    O(sqrt(K)) + O(sqrt(K)) instead of the flat O(K) with K ∝ n that
    the previous registered form carried; the within-cluster pair stage
    stays linear because cluster populations hold ~64 by construction.
    This is the ann.py IVF coarse-quantizer discipline (assign through
    a coarse cell, then work only within it) applied to clustering
    itself.

    Same prune semantics as sim9 (cosine ≥ {tau} to a lower-id
    clustermate ⇒ pruned, canonical ``dup_of`` = smallest such id) —
    only the blocking key changes, from sign-LSH sub-buckets to refined
    hierarchical k-means cells (global cluster id = coarse * 2^20 +
    fine seed index). The driver-side ``count()`` that sizes K is a
    metadata-cheap scalar (the production analog reads the corpus
    manifest).

    Determinism: inherits sim11's exact quantized means + rounded
    argmin at BOTH levels, and the rounded-cosine prune — every stage
    bit-exact vs the unrolled SQL oracle. Fine cells emptied by a
    refinement round drop out exactly as in sim11's Lloyd degeneracy.
    """
    import math

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    n = vecs.count()
    k = max(8, -(-n // SD_TARGET_CLUSTER))
    # the packed cluster id is coarse * 2^20 + fcid; fcid is bounded by
    # the largest per-cell seed count, itself <= ceil(n / 64) = k. Fail
    # LOUDLY before ids could collide across coarse cells (needs a
    # ~67M-vector corpus routed into one coarse cell) instead of
    # silently merging unrelated dedup blocks — at that scale raise
    # _FINE_MULT or widen the id to a (coarse, fcid) struct key.
    if k >= _FINE_MULT:
        raise ValueError(
            f"corpus of {n} vectors can produce fine ids >= {_FINE_MULT}; "
            "packed cluster ids would collide across coarse cells"
        )
    # ceil(sqrt(k)) in exact integer math == CEIL(SQRT(double)) for any
    # k whose sqrt a double represents faithfully (all test/prod sizes)
    c = max(2, math.isqrt(k - 1) + 1)
    coarse = _lloyd_clusters(vecs, c, KM_ITERS).select(
        "vec_id", "v", F.col("cluster").alias("coarse")
    )
    # corpus-scale intermediate reused by seeds + every fine round: pin
    # it once (the d9/sim11 lineage-truncation discipline). The
    # persist-based pin_shared (g1/g2's static-relation change,
    # OPTIMIZATION r11) was A/B'd here and measured +6% at x10 — the
    # wide 64-double vector column makes the columnar cache scan dearer
    # than checkpoint block reads, so the checkpoint stays.
    coarse = coarse.transform(pin)

    w_cnt = Window.partitionBy("coarse")
    w_ord = Window.partitionBy("coarse").orderBy("vec_id")
    kcell = F.ceil(
        F.count(F.lit(1)).over(w_cnt) / F.lit(float(SD_TARGET_CLUSTER))
    ).cast("bigint")
    f0 = (
        coarse.withColumn("_rn", F.row_number().over(w_ord))
        .withColumn("_kcell", kcell)
        .filter(F.col("_rn") <= F.col("_kcell"))
        .select(
            "coarse",
            (F.col("_rn") - 1).alias("fcid"),
            F.col("v").alias("cv"),
        )
    )
    fcents = f0.transform(pin)
    for _ in range(KM_FINE_ITERS):
        fcents = _fine_means(_fine_assign(coarse, fcents)).transform(pin)
    assigned = (
        _fine_assign(coarse, fcents)
        .select(
            "vec_id",
            "v",
            (F.col("coarse") * F.lit(_FINE_MULT) + F.col("fcid")).alias(
                "cluster"
            ),
        )
        .withColumn("norm", _norm(F.col("v")))
    )
    a = assigned.select(
        F.col("cluster").alias("c"),
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        F.col("norm").alias("an"),
    )
    b = assigned.select(
        F.col("cluster").alias("c"),
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
        F.col("norm").alias("bn"),
    )
    cos = _cosine_pre(F.col("av"), F.col("bv"), F.col("an"), F.col("bn"))
    dups = (
        a.join(b, "c")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(F.col("b_id").alias("vec_id"), cos.alias("cs"), F.col("a_id"))
        .filter(F.col("cs") >= SEMDEDUP_TAU)
        .groupBy("vec_id")
        .agg(F.min("a_id").alias("dup_of"))
    )
    return assigned.join(dups, "vec_id", "left").select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.col("dup_of").isNotNull().alias("pruned"),
        "dup_of",
    )


if sim12_semdedup_bounded.__doc__:  # absent under python -OO
    sim12_semdedup_bounded.__doc__ = sim12_semdedup_bounded.__doc__.format(
        tau=SEMDEDUP_TAU
    )


TENANTS = 3  # tenant filter discards ~2/3 of each probed cell's candidates
# Filtered search probes wider IN PROPORTION TO THE FILTER'S SELECTIVITY
# (VERDICT r9 task 5): a selectivity-s predicate keeps ~s of each probed
# cell's candidates, so holding the expected candidate volume at the
# unfiltered level takes nprobe/s probes — here N_PROBE × TENANTS = 6.
# Measured recall@5 vs exact tenant-restricted brute force on the
# 500-vector fixtures: 0.74 (sf0.001) / 0.78 (sf0.01), up from 0.46/0.50
# at the old fixed nprobe=3; the 0.6 floor is pinned in
# tests/test_lineage.py. Probe cost stays linear in nprobe and the
# widened probes still prune at file listing on the persisted
# (cell, tenant)-partitioned layout (ann.py).
N_PROBE_FILTERED = N_PROBE * TENANTS


@register(
    "sim13_filtered_ann",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
centroids AS (
  SELECT label, list(mc ORDER BY idx) AS cv
  FROM (
    SELECT label, CAST(i AS BIGINT) AS idx,
           CAST(SUM(CAST(FLOOR(CAST(comp AS DOUBLE) * 1073741824.0) AS DECIMAL(38,0)))
                AS DOUBLE) / 1073741824.0 / COUNT(*) AS mc
    FROM (
      SELECT label, CAST(i AS BIGINT) AS i, embedding[CAST(i AS INT)] AS comp
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ) q GROUP BY label, i
  ) m GROUP BY label
),
assign AS (
  SELECT e.vec_id, e.v, c.label AS cell,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY ROUND(list_sum(list_transform(
                                range(1, len(e.v) + 1),
                                i -> (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                                   * (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 6),
                            c.label) AS crk
  FROM e CROSS JOIN centroids c
),
cells AS (SELECT vec_id, v, cell FROM assign WHERE crk = 1),
probes AS (
  SELECT vec_id AS query_id, v AS qv, cell AS probe_cell
  FROM assign WHERE vec_id < {N_QUERIES} AND crk <= {N_PROBE_FILTERED}
),
scored AS (
  SELECT p.query_id, c.vec_id AS match_id,
         ROUND(list_cosine_similarity(p.qv, c.v), 6) AS cos_sim
  FROM probes p JOIN cells c ON c.cell = p.probe_cell
  WHERE c.vec_id != p.query_id
    AND c.vec_id % {TENANTS} = p.query_id % {TENANTS}
)
SELECT query_id, match_id, cos_sim, rank
FROM (
  SELECT query_id, match_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, match_id) AS BIGINT) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
""",
    tags=("similarity", "ann", "ivf", "filtered"),
)
def sim13_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED ANN — the production vector-search shape (every
    serving stack: tenant-scoped / language-scoped / license-scoped
    retrieval): each query retrieves top-k only among vectors satisfying
    a metadata predicate. Here the predicate is tenant equality, with
    tenant = vec_id % {TENANTS} as the deterministic stand-in for a
    stored metadata column.

    Post-filtering inside the probed cells, with the probe count widened
    {N_PROBE} -> {N_PROBE_FILTERED} — PROPORTIONALLY TO SELECTIVITY
    (nprobe × TENANTS, the per-filter-selectivity rule): a
    selectivity-s filter keeps ~s of each cell's candidates, so holding
    candidate volume at the unfiltered level takes nprobe/s probes
    (cheap: probe cost is linear in nprobe, and the tenant predicate is
    evaluated row-locally in the cell scan, BEFORE the rerank fold).
    Measured on the 500-vector fixture (tenant orthogonal to the label
    geometry, the hard case): recall@5 vs exact tenant-restricted brute
    force = 0.74 at sf0.001 / 0.78 at sf0.01 with the selectivity rule,
    vs 0.46/0.50 at a fixed nprobe 3 — the ≥0.6 floor is pinned in
    tests/test_lineage.py. At 100 TB with a persisted index
    (ann.py) a high-selectivity filter column graduates into the cell
    layout — PARTITIONED BY (cell, tenant) — so the predicate prunes at
    file listing exactly like the cell id; a medium-selectivity column
    stays a parquet row-group predicate. Candidate volume here is
    ~nprobe/n_cells * 1/{TENANTS} of the corpus per query.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cent = ivf_codebook(e)
    # one assignment pass feeds cells and probes (sim6's persist note)
    assign = pin_shared(
        ivf_assign(e, cent)
        .filter(F.col("crk") <= N_PROBE_FILTERED)
        .withColumn("norm", _norm(F.col("v")))
    )
    cells = assign.filter(F.col("crk") == 1).select(
        F.col("vec_id").alias("match_id"),
        F.col("v").alias("cv_vec"),
        F.col("norm").alias("cnorm"),
        "cell",
        F.pmod(F.col("vec_id"), F.lit(TENANTS)).alias("tenant"),
    )
    probes = assign.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("crk") <= N_PROBE_FILTERED)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "cell",
        F.pmod(F.col("vec_id"), F.lit(TENANTS)).alias("tenant"),
    )
    # tenant rides in the equi-join key next to cell: the filter shrinks
    # the shuffle/match fanout instead of post-filtering reranked pairs
    scored = (
        probes.join(cells, ["cell", "tenant"])
        .filter(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            _cosine_pre(
                F.col("qv"), F.col("cv_vec"), F.col("qnorm"), F.col("cnorm")
            ).alias("cos_sim"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("match_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
    )


if sim13_filtered_ann.__doc__:  # absent under python -OO
    sim13_filtered_ann.__doc__ = sim13_filtered_ann.__doc__.format(
        TENANTS=TENANTS, N_PROBE=N_PROBE, N_PROBE_FILTERED=N_PROBE_FILTERED
    )


# sim14: greedy k-center / farthest-point coreset (Gonzalez's 2-approx
# algorithm) — diversity-aware subset selection, the embedding-space
# complement of dedup: instead of dropping near-duplicates, PICK the K
# most mutually spread-out exemplars (data-pruning / active-learning
# seed selection over a training corpus).
KC_CENTERS = 8


def _kc_oracle() -> str:
    # Each picks{r} is referenced 3x by round r+1 (the distance join, the
    # NOT IN exclusion, and the UNION ALL carry-forward); DuckDB inlines
    # non-materialized CTEs per reference, which would make the unrolled
    # chain exponential (3^K re-evaluations — measured 371 s at K=8).
    # AS MATERIALIZED pins each round to one evaluation → linear.
    steps = []
    for r in range(1, KC_CENTERS):
        prev = f"picks{r - 1}"
        steps.append(f"""
cand{r} AS MATERIALIZED (
  SELECT e.vec_id, any_value(e.v) AS v,
         MIN({_km_d2_sql('e.v', 'p.cv')}) AS mind
  FROM e JOIN {prev} p ON TRUE
  WHERE e.vec_id NOT IN (SELECT vid FROM {prev})
  GROUP BY e.vec_id
),
p{r} AS MATERIALIZED (
  SELECT CAST({r} AS BIGINT) AS crank, vec_id AS vid, mind AS d, v AS cv
  FROM cand{r} ORDER BY mind DESC, vec_id LIMIT 1
),
picks{r} AS MATERIALIZED (
  SELECT * FROM picks{r - 1} UNION ALL SELECT * FROM p{r})""")
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
picks0 AS MATERIALIZED (
  SELECT CAST(0 AS BIGINT) AS crank, vec_id AS vid,
         CAST(NULL AS DOUBLE) AS d, v AS cv
  FROM e ORDER BY vec_id LIMIT 1
),{",".join(steps).lstrip(",")}
SELECT crank AS center_rank, vid AS vec_id, d AS dist2_at_pick
FROM picks{KC_CENTERS - 1}
"""


@register(
    "sim14_kcenter_coreset",
    oracle=_kc_oracle(),
    tags=("similarity", "coreset", "iterative", "diversity"),
)
def sim14_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset over the embedding
    corpus: seed = the lowest vec_id, then {K} - 1 rounds each picking
    the point FARTHEST (max-min squared L2) from everything selected so
    far — Gonzalez's classic 2-approximation to the k-center cover. The
    diversity-selection complement of the dedup family: near-duplicate
    regions contribute one exemplar no matter how dense, so the coreset
    is a spread-preserving sample for data pruning, active-learning
    seeds, or codebook init (a drop-in for sim11's first-K seeding).
    Output: each center with its pick order and its max-min distance at
    selection time (the monotonically shrinking covering radius; NULL
    for the seed).

    Iterative shape (the sim11/d9 discipline): the selected set lives
    in ONE pinned row — an array of (rank, vid, d, vector)
    structs, K x 64 doubles, BOUNDED by K — that broadcasts to every
    task; each round is one corpus scan computing the running min
    distance (array_min over the picks, rounded to 6 dp — the file-wide
    fp bridge) and ONE-ROW argmax partial agg (max-min distance,
    min-vec_id tie-break via lexicographic struct min). K rounds = K
    linear scans, no shuffle beyond the scalar agg, nothing
    corpus-sized ever broadcasts or collects. The oracle replays every
    round bit-exactly as unrolled CTEs (the sim11 pattern).

    At 100 TB the K-scan cost is the known price of exact greedy
    k-center; the standard scale-out is to run it over a uniform or
    per-IVF-cell sample (compose with s5/sim6) — the operator here IS
    that inner exact kernel.
    """
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    seed = vecs.agg(F.min(F.struct("vec_id", "v")).alias("s"))
    picked = seed.select(
        F.array(
            F.struct(
                F.lit(0).cast("bigint").alias("rank"),
                F.col("s.vec_id").alias("vid"),
                F.lit(None).cast("double").alias("d"),
                F.col("s.v").alias("cv"),
            )
        ).alias("picks")
    ).transform(pin)
    for r in range(1, KC_CENTERS):
        cand = (
            vecs.join(F.broadcast(picked))
            .filter(~F.exists("picks", lambda p: p["vid"] == F.col("vec_id")))
            .select(
                "vec_id",
                "v",
                F.array_min(
                    F.transform("picks", lambda p: _d2(F.col("v"), p["cv"]))
                ).alias("mind"),
            )
        )
        best = cand.agg(
            F.min(
                F.struct(
                    (-F.col("mind")).alias("nd"),
                    F.col("vec_id").alias("vid"),
                    F.col("v").alias("cv"),
                )
            ).alias("b")
        )
        picked = (
            picked.join(F.broadcast(best))
            .select(
                F.array_append(
                    "picks",
                    F.struct(
                        F.lit(r).cast("bigint").alias("rank"),
                        F.col("b.vid").alias("vid"),
                        (-F.col("b.nd")).alias("d"),
                        F.col("b.cv").alias("cv"),
                    ),
                ).alias("picks")
            )
            .transform(pin)
        )
    return picked.select(F.explode("picks").alias("p")).select(
        F.col("p.rank").alias("center_rank"),
        F.col("p.vid").alias("vec_id"),
        F.col("p.d").alias("dist2_at_pick"),
    )


if sim14_kcenter_coreset.__doc__:  # absent under python -OO
    sim14_kcenter_coreset.__doc__ = sim14_kcenter_coreset.__doc__.format(
        K=KC_CENTERS
    )


OUT_MULT = 2.0  # outlier threshold: dist2 > OUT_MULT * label mean dist2


@register(
    "sim15_centroid_outliers",
    oracle=f"""
WITH ex AS (
  SELECT vec_id, label, CAST(i AS BIGINT) AS idx,
         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS comp
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
),
cent AS (
  SELECT label, idx,
         CAST(SUM(CAST(FLOOR(comp * {Q_SCALE}) AS DECIMAL(38,0))) AS DOUBLE)
           / {Q_SCALE} / COUNT(*) AS c
  FROM ex GROUP BY label, idx
),
d2 AS (
  SELECT vec_id, e.label,
         CAST(SUM(CAST(FLOOR((comp - c) * (comp - c) * {Q_SCALE})
                       AS DECIMAL(38,0))) AS DOUBLE) / {Q_SCALE} AS dist2
  FROM ex e JOIN cent USING (label, idx)
  GROUP BY vec_id, e.label
),
m AS (
  SELECT label,
         CAST(SUM(CAST(FLOOR(dist2 * {Q_SCALE}) AS DECIMAL(38,0))) AS DOUBLE)
           / {Q_SCALE} / COUNT(*) AS mean_d2
  FROM d2 GROUP BY label
)
SELECT d2.vec_id, d2.label,
       ROUND(d2.dist2, 6) AS dist2,
       ROUND(m.mean_d2, 6) AS label_mean_dist2,
       d2.dist2 > {OUT_MULT} * m.mean_d2 AS is_outlier
FROM d2 JOIN m USING (label)
""",
    tags=("similarity", "quality", "outlier"),
)
def sim15_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality filter: each vector's squared L2 distance
    to its label centroid, flagged as an outlier when it exceeds
    {MULT}x the label's mean squared distance — the cheap,
    clustering-free version of the "prune points far from their cell
    centroid" stage LLM data pipelines run to drop mis-embedded or
    off-topic documents before dedup/mixing (the inverse of SemDedup:
    sim9/sim12 drop the points NEAREST their neighbors; this drops the
    ones that belong to no cluster at all).

    Determinism: centroids come from the file-standard exact-mean
    kernel (`_exact_mean_cells` — floor-quantized DECIMAL(38,0) sums);
    per-vector squared distances and per-label means go through the
    same fixed-point bridge, so every double compared by the outlier
    predicate is bit-identical cross-engine (the sums stay < 2^53, so
    the quantized doubles are exact integers).

    Plan shape: one posexplode scan; centroid agg shuffles (label, idx,
    comp) — K x 64 cells out; the join back is component-rows against a
    broadcast-sized centroid relation; per-vector agg shuffles on
    vec_id; the label-mean agg and its join back are label-cardinality
    — broadcast again. Everything is linear in the corpus with only
    fixed-width rows on the wire; no pairwise stage at all, so this
    scales to 100 TB as two map-reduce passes.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", "label", F.posexplode(F.col("embedding")).alias("idx0", "comp")
    ).select(
        "vec_id",
        "label",
        (F.col("idx0") + 1).cast("bigint").alias("idx"),
        F.col("comp").cast("double").alias("comp"),
    )
    cent = _exact_mean_cells(ex, ["label"]).select("label", "idx", "c")
    diff2 = (F.col("comp") - F.col("c")) * (F.col("comp") - F.col("c"))
    d2 = (
        ex.join(F.broadcast(cent), ["label", "idx"])
        .groupBy("vec_id", "label")
        .agg(
            (
                F.sum(F.floor(diff2 * F.lit(Q_SCALE)).cast("decimal(38,0)"))
                .cast("double")
                / F.lit(Q_SCALE)
            ).alias("dist2")
        )
    )
    # persist: BOTH the label-mean aggregate and the final join consume
    # d2; without it each consumer re-derives the whole explode+centroid
    # chain — two extra embeddings passes (r7 plan audit). d2 is narrow
    # (vec_id, label, dist2), so the cache is ~24 B/vector. A window
    # over labels would avoid the cache but has no partial aggregation —
    # one task per label is a skew cliff at corpus scale.
    d2 = pin_shared(d2)
    m = d2.groupBy("label").agg(
        (
            F.sum(F.floor(F.col("dist2") * F.lit(Q_SCALE)).cast("decimal(38,0)"))
            .cast("double")
            / F.lit(Q_SCALE)
            / F.count(F.lit(1))
        ).alias("mean_d2")
    )
    return d2.join(F.broadcast(m), "label").select(
        "vec_id",
        "label",
        F.round("dist2", 6).alias("dist2"),
        F.round("mean_d2", 6).alias("label_mean_dist2"),
        (F.col("dist2") > F.lit(OUT_MULT) * F.col("mean_d2")).alias("is_outlier"),
    )


if sim15_centroid_outliers.__doc__:  # absent under python -OO
    sim15_centroid_outliers.__doc__ = sim15_centroid_outliers.__doc__.format(
        MULT=OUT_MULT
    )


@register(
    "sim16_mips_norm_augment",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n2 AS (
  SELECT vec_id, v, list_inner_product(v, v) AS nn FROM e
),
m2 AS (SELECT MAX(nn) AS m FROM n2),
aug AS (
  SELECT vec_id, v,
         list_append(v, SQRT(GREATEST(m2.m - nn, 0))) AS va
  FROM n2, m2
),
augn AS (
  SELECT vec_id, v, va, SQRT(list_inner_product(va, va)) AS an FROM aug
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         list_inner_product(q.v, c.v) AS ip,
         list_inner_product(q.va, c.va) / (q.an * c.an) AS cos_aug
  FROM augn q JOIN augn c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
),
ranked AS (
  SELECT query_id, match_id, ip,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY ip DESC, match_id) AS BIGINT)
           AS rank_mips,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_aug DESC, match_id) AS BIGINT)
           AS rank_aug
  FROM scored
)
SELECT query_id, match_id, ip, rank_mips, rank_aug,
       rank_mips = rank_aug AS agree
FROM ranked
WHERE rank_mips <= {TOP_K}
""",
    tags=("similarity", "mips", "reduction"),
)
def sim16_mips_norm_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search via the norm-augmentation reduction
    (Shrivastava & Li's asymmetric-LSH trick, the standard move in
    recommender retrieval where relevance is a dot product, NOT an
    angle): append one component sqrt(M^2 - ||x||^2) to every corpus
    vector (M = max corpus norm) and a 0 to every query — every
    augmented corpus vector then has norm exactly M, so the augmented
    COSINE ranking equals the inner-product ranking, and the whole
    cosine-ANN stack (sim2's sign-LSH, sim6's IVF) becomes a MIPS index
    with no further change. The query materializes BOTH rankings per
    query — direct top-{K} by inner product, and the rank the
    augmented-cosine route assigns the same pair — with an ``agree``
    flag, so the reduction's exactness is itself driver-verified row by
    row rather than asserted in prose.

    Plan shape: ||x||^2 and the augmentation are row-local folds; M^2 is
    a 1-row aggregate broadcast; scoring reuses sim1's broadcast-query
    brute-force shape (the point is the reduction, not the index — the
    LSH/IVF variants compose by feeding `va` to sim2/sim6). GREATEST(.,0)
    guards the max-norm vector's sqrt against a sub-ulp negative.

    Determinism: identical input doubles and sequential folds make both
    scores bit-identical cross-engine UNROUNDED — which is exactly how
    they ship and rank (rounding them would reintroduce 6-dp half-tie
    divergence on dyadic products; see the comment at the scoring
    select). Ties break on match_id (sim1's contract).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    dot_self = F.aggregate(
        F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    n2 = e.withColumn("nn", dot_self)
    m2 = n2.agg(F.max("nn").alias("m"))
    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    aug = n2.crossJoin(F.broadcast(m2)).select(
        "vec_id",
        "v",
        F.concat(
            "v", F.array(F.sqrt(F.greatest(F.col("m") - F.col("nn"), F.lit(0.0))))
        ).alias("va"),
    )
    # augmented self-norms are per-VECTOR constants: compute each once
    # below the join (same sequential fold -> bit-identical doubles)
    # instead of re-folding both sides inside every (query, corpus)
    # pair — the pair stage's dominant cost drops from 3 O(d) folds to 1
    augn = aug.withColumn("an", F.sqrt(dot(F.col("va"), F.col("va"))))
    q = augn.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("va").alias("qa"),
        F.col("an").alias("qn"),
    )
    c = augn.select(
        F.col("vec_id").alias("match_id"),
        F.col("v").alias("cv"),
        F.col("va").alias("ca"),
        F.col("an").alias("cn"),
    )
    # corpus LEFT, query set broadcast: the nested-loop join must build
    # on the N_QUERIES-row side — Spark's size estimate at fixture scale
    # would otherwise happily broadcast the whole corpus
    # UNROUNDED ranking keys and output: both dot products are one
    # sequential fold over identical doubles — already bit-identical
    # cross-engine — while a cosmetic ROUND(x, 6) would REINTRODUCE
    # nondeterminism: dyadic embeddings can land a product exactly on a
    # 6-dp half-tie (e.g. k/128 = 0.0078125), where Spark's BigDecimal
    # HALF_UP and DuckDB's double rounding disagree and flip both the
    # displayed value and rank_mips/rank_aug (the g4/s16 tie lesson)
    scored = c.join(F.broadcast(q), F.col("match_id") != F.col("query_id")).select(
        "query_id",
        "match_id",
        dot(F.col("qv"), F.col("cv")).alias("ip"),
        (dot(F.col("qa"), F.col("ca")) / (F.col("qn") * F.col("cn"))).alias(
            "cos_aug"
        ),
    )
    w_mips = Window.partitionBy("query_id").orderBy(F.desc("ip"), F.asc("match_id"))
    w_aug = Window.partitionBy("query_id").orderBy(
        F.desc("cos_aug"), F.asc("match_id")
    )
    return (
        scored.withColumn("rank_mips", F.row_number().over(w_mips).cast("bigint"))
        .withColumn("rank_aug", F.row_number().over(w_aug).cast("bigint"))
        .filter(F.col("rank_mips") <= TOP_K)
        .select(
            "query_id",
            "match_id",
            "ip",
            "rank_mips",
            "rank_aug",
            (F.col("rank_mips") == F.col("rank_aug")).alias("agree"),
        )
    )


if sim16_mips_norm_augment.__doc__:  # absent under python -OO
    sim16_mips_norm_augment.__doc__ = sim16_mips_norm_augment.__doc__.format(K=TOP_K)


# Margin-based bitext mining constants: 20 "source-language" queries
# (even ids), candidates = every odd id, k=4 margin neighborhood, and
# the conventional ratio-margin acceptance threshold.
BITEXT_NQ = 40  # query ids: even vec_id < 40 -> 20 queries
BITEXT_K = 4
BITEXT_THRESHOLD = 1.05


@register(
    "sim17_margin_bitext",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (SELECT * FROM e WHERE vec_id % 2 = 0 AND vec_id < {BITEXT_NQ}),
c AS (SELECT * FROM e WHERE vec_id % 2 = 1),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
  FROM q, c
),
fwd AS (
  SELECT query_id,
         CAST(SUM(CAST(cos_sim AS DECIMAL(9,6))) AS DOUBLE) / {BITEXT_K}.0 AS f
  FROM (
    SELECT query_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, match_id) AS rn
    FROM pairs
  ) WHERE rn <= {BITEXT_K} GROUP BY query_id
),
bwd AS (
  SELECT match_id,
         CAST(SUM(CAST(cos_sim AS DECIMAL(9,6))) AS DOUBLE) / {BITEXT_K}.0 AS b
  FROM (
    SELECT match_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY match_id
                              ORDER BY cos_sim DESC, query_id) AS rn
    FROM pairs
  ) WHERE rn <= {BITEXT_K} GROUP BY match_id
),
m AS (
  SELECT p.query_id, p.match_id, p.cos_sim,
         p.cos_sim / ((f.f + b.b) / 2.0) AS margin
  FROM pairs p JOIN fwd f USING (query_id) JOIN bwd b USING (match_id)
)
SELECT query_id, match_id, cos_sim, margin,
       margin > {BITEXT_THRESHOLD} AS accepted
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY margin DESC, match_id) AS rn
  FROM m
) WHERE rn = 1
""",
    tags=("similarity", "bitext", "margin", "alignment"),
)
def sim17_margin_bitext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk's ratio margin —
    the LASER/CCMatrix parallel-corpus alignment op): for each
    "source-language" query vector (even ids — the label stand-in for
    language A), the best "target-language" candidate (odd ids) by
    cos(x,y) / ((avg top-k cos of x) + (avg top-k cos of y)) / 2 —
    the normalization that kills hub vectors plain cosine retrieval
    pairs with everything. ``accepted`` applies the conventional >
    {thr} mining threshold.

    Determinism: cosines through the file-wide 6-dp bridge; each k-NN
    denominator is an exact DECIMAL(9,6) sum of those rounded cosines
    divided back as one double op, so the margin is bit-identical
    cross-engine; ranking ties break on match_id.

    Scale shape: the query side is a fixed broadcast-sized set, so the
    candidate scan is one narrow pass (sim1's shape); the BACKWARD
    denominator is computed within the retrieval pool (one window over
    the pair relation) rather than over all of language A — the
    documented simplification; production swaps the pool for the ANN
    index's candidate lists (sim2/sim6), same margin arithmetic."""
    e = _doubled(load_table(spark, sf_dir, "embeddings"))
    q = e.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < BITEXT_NQ)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
    )
    c = e.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("match_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cn"),
    )
    pairs = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "match_id",
        _cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias(
            "cos_sim"
        ),
    ).transform(pin)
    dec = F.col("cos_sim").cast("decimal(9,6)")
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("match_id")
    )
    fwd = (
        pairs.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= BITEXT_K)
        .groupBy("query_id")
        .agg((F.sum(dec).cast("double") / float(BITEXT_K)).alias("f"))
    )
    wb = Window.partitionBy("match_id").orderBy(
        F.col("cos_sim").desc(), F.col("query_id")
    )
    bwd = (
        pairs.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= BITEXT_K)
        .groupBy("match_id")
        .agg((F.sum(dec).cast("double") / float(BITEXT_K)).alias("b"))
    )
    m = (
        pairs.join(F.broadcast(fwd), "query_id")
        .join(F.broadcast(bwd), "match_id")
        .select(
            "query_id",
            "match_id",
            "cos_sim",
            (F.col("cos_sim") / ((F.col("f") + F.col("b")) / 2.0)).alias("margin"),
        )
    )
    wm = Window.partitionBy("query_id").orderBy(
        F.col("margin").desc(), F.col("match_id")
    )
    return (
        m.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "match_id",
            "cos_sim",
            "margin",
            (F.col("margin") > BITEXT_THRESHOLD).alias("accepted"),
        )
    )


if sim17_margin_bitext.__doc__:  # absent under python -OO
    sim17_margin_bitext.__doc__ = sim17_margin_bitext.__doc__.format(
        thr=BITEXT_THRESHOLD
    )


@register(
    "sim18_ann_recall_eval",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_aggregate(list_transform(range(1, 9),
             i -> CASE WHEN embedding[CAST(i AS INT)] >= 0 THEN '1' ELSE '0' END),
             'string_agg', '') AS bucket
  FROM embeddings
),
ex AS (
  SELECT query_id, match_id, rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 6) DESC,
                        c.vec_id) AS rank
    FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
  ) WHERE rank <= {TOP_K}
),
ann AS (
  SELECT query_id, match_id, rank AS ann_rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 6) DESC,
                        c.vec_id) AS rank
    FROM e q JOIN e c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rank <= {TOP_K}
),
per AS (
  SELECT x.query_id,
         CAST(SUM(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits,
         CAST(COALESCE(MAX(CASE WHEN x.rank = 1 THEN a.ann_rank END), 0)
              AS BIGINT) AS top1_ann_rank
  FROM ex x LEFT JOIN ann a
    ON x.query_id = a.query_id AND x.match_id = a.match_id
  GROUP BY x.query_id
),
scored AS (
  SELECT query_id, n_hits,
         CAST(n_hits AS DOUBLE) / {TOP_K} AS recall_at_k,
         CASE WHEN top1_ann_rank = 0 THEN 0.0
              ELSE 1.0 / top1_ann_rank END AS rr
  FROM per
)
SELECT query_id, n_hits, recall_at_k, rr,
       CAST(SUM(n_hits) OVER () AS DOUBLE) / {N_QUERIES * TOP_K} AS mean_recall,
       CAST(SUM(CAST(rr AS DECIMAL(9,6))) OVER () AS DOUBLE) / {N_QUERIES}.0
         AS mrr
FROM scored
""",
    tags=("similarity", "ann", "evaluation", "recall"),
)
def sim18_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN EVALUATION as a first-class operator — the report every
    index deployment runs before trusting approximate retrieval:
    per-query recall@{K} of the sign-LSH ANN (sim2) against the exact
    brute-force baseline (sim1), the reciprocal rank of the true
    nearest neighbor in the ANN list (0 when the bucket missed it),
    and table-level mean recall + MRR carried on every row. Composed
    from the two REGISTERED operators, so the evaluation measures
    exactly what the production queries serve (the pytest recall-floor
    suites pin thresholds; this face ships the numbers).

    Determinism: both retrievals already rank on the 6-dp-rounded
    cosine with id tie-breaks, so hit sets are exact; mean recall
    derives from integer hit counts (one division), and MRR sums the
    reciprocal ranks through a DECIMAL(9,6) bridge before its single
    division — no order-dependent double accumulation.

    Scale shape: inherits sim1's one-narrow-pass baseline (the exact
    side is the expensive half — which is WHY evaluation runs on a
    query SAMPLE, a fixed broadcast-sized set by construction) and
    sim2's equi-join candidates; the eval join itself is per-(query,
    match) over k-sized lists."""
    ex = sim1_topk_cosine(spark, sf_dir).select("query_id", "match_id", "rank")
    ann = sim2_lsh_bucketed_ann(spark, sf_dir).select(
        "query_id", "match_id", F.col("rank").alias("ann_rank")
    )
    j = ex.join(ann, ["query_id", "match_id"], "left")
    per = j.groupBy("query_id").agg(
        F.sum(F.when(F.col("ann_rank").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_hits"),
        F.coalesce(
            F.max(F.when(F.col("rank") == 1, F.col("ann_rank"))), F.lit(0)
        )
        .cast("bigint")
        .alias("top1_ann_rank"),
    )
    scored = per.select(
        "query_id",
        "n_hits",
        (F.col("n_hits").cast("double") / F.lit(float(TOP_K))).alias(
            "recall_at_k"
        ),
        F.when(F.col("top1_ann_rank") == 0, F.lit(0.0))
        .otherwise(F.lit(1.0) / F.col("top1_ann_rank"))
        .alias("rr"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return scored.select(
        "query_id",
        "n_hits",
        "recall_at_k",
        "rr",
        (
            F.sum("n_hits").over(wall).cast("double")
            / F.lit(float(N_QUERIES * TOP_K))
        ).alias("mean_recall"),
        (
            F.sum(F.col("rr").cast("decimal(9,6)")).over(wall).cast("double")
            / F.lit(float(N_QUERIES))
        ).alias("mrr"),
    )


NPROBE_SWEEP = (1, 2, 4)  # probe widths evaluated by sim19
_MAX_NPROBE = max(NPROBE_SWEEP)


@register(
    "sim19_nprobe_recall_sweep",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
centroids AS (
  SELECT label, list(mc ORDER BY idx) AS cv
  FROM (
    SELECT label, CAST(i AS BIGINT) AS idx,
           CAST(SUM(CAST(FLOOR(CAST(comp AS DOUBLE) * 1073741824.0) AS DECIMAL(38,0)))
                AS DOUBLE) / 1073741824.0 / COUNT(*) AS mc
    FROM (
      SELECT label, CAST(i AS BIGINT) AS i, embedding[CAST(i AS INT)] AS comp
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ) q GROUP BY label, i
  ) m GROUP BY label
),
assign AS (
  SELECT e.vec_id, e.v, c.label AS cell,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY ROUND(list_sum(list_transform(
                                range(1, len(e.v) + 1),
                                i -> (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                                   * (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 6),
                            c.label) AS crk
  FROM e CROSS JOIN centroids c
),
cells AS (SELECT vec_id, v, cell FROM assign WHERE crk = 1),
probes AS (
  SELECT vec_id AS query_id, v AS qv, cell, crk AS probe_rank
  FROM assign WHERE vec_id < {N_QUERIES} AND crk <= {_MAX_NPROBE}
),
cand AS (
  SELECT p.query_id, c.vec_id AS match_id, p.probe_rank,
         ROUND(list_cosine_similarity(p.qv, c.v), 6) AS cos_sim
  FROM probes p JOIN cells c ON c.cell = p.cell
  WHERE c.vec_id != p.query_id
),
nps AS (SELECT * FROM (VALUES {", ".join(f"({np})" for np in NPROBE_SWEEP)}) AS t(n_probe)),
c2 AS (
  SELECT n.n_probe, cand.query_id, cand.match_id, cand.cos_sim
  FROM cand JOIN nps n ON cand.probe_rank <= n.n_probe
),
topk AS (
  SELECT n_probe, query_id, match_id FROM (
    SELECT n_probe, query_id, match_id,
           ROW_NUMBER() OVER (PARTITION BY n_probe, query_id
                              ORDER BY cos_sim DESC, match_id) AS rk
    FROM c2
  ) WHERE rk <= {TOP_K}
),
ex AS (
  SELECT query_id, match_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 6) DESC,
                        c.vec_id) AS rank
    FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
  ) WHERE rank <= {TOP_K}
),
agg AS (
  SELECT n_probe, CAST(COUNT(*) AS BIGINT) AS n_candidates
  FROM c2 GROUP BY n_probe
),
h AS (
  SELECT t.n_probe, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM topk t JOIN ex ON t.query_id = ex.query_id AND t.match_id = ex.match_id
  GROUP BY t.n_probe
)
SELECT CAST(a.n_probe AS BIGINT) AS n_probe,
       a.n_candidates,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {N_QUERIES * TOP_K} AS mean_recall,
       CAST(a.n_candidates AS DOUBLE) / {N_QUERIES} AS mean_candidates
FROM agg a LEFT JOIN h ON a.n_probe = h.n_probe
""",
    tags=("similarity", "ann", "ivf", "evaluation", "tuning"),
)
def sim19_nprobe_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF TUNING CURVE: recall@{TOP_K} and candidate volume at
    probe widths {NPROBE_SWEEP} in one pass — the table a deployment
    reads to pick n_probe (recall rises with probes, so does the
    fraction of the corpus each query scans; the knee is the serving
    config). sim6 serves ONE width; sim18 evaluates ONE retriever;
    this sweeps the width against the exact top-{TOP_K} baseline
    (sim1's machinery) without re-assigning or re-scoring per width.

    Scale shape: ONE codebook, ONE assignment pass (pinned, crk <=
    {_MAX_NPROBE}), ONE candidate relation scored at the WIDEST probe
    setting; the narrower widths are probe_rank filters over it (a
    3-row broadcast), so sweep cost ≈ widest-width cost, not the sum.
    Exactness: integer hit/candidate counts, single int/int divisions.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cent = ivf_codebook(e)
    assign = pin_shared(
        ivf_assign(e, cent)
        .filter(F.col("crk") <= _MAX_NPROBE)
        .withColumn("norm", _norm(F.col("v")))
    )
    cells = assign.filter(F.col("crk") == 1).select(
        F.col("vec_id").alias("match_id"), F.col("v").alias("cv_vec"),
        F.col("norm").alias("cnorm"), "cell",
    )
    probes = assign.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"), "cell",
        F.col("crk").alias("probe_rank"),
    )
    cand = pin_shared(
        probes.join(cells, "cell")
        .filter(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id", "match_id", "probe_rank",
            _cosine_pre(
                F.col("qv"), F.col("cv_vec"), F.col("qnorm"), F.col("cnorm")
            ).alias("cos_sim"),
        )
    )
    nps = F.broadcast(
        spark.createDataFrame([(np,) for np in NPROBE_SWEEP], "n_probe int")
    )
    c2 = cand.join(nps, F.col("probe_rank") <= F.col("n_probe"))
    w = Window.partitionBy("n_probe", "query_id").orderBy(
        F.desc("cos_sim"), F.asc("match_id")
    )
    topk = (
        c2.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("n_probe", "query_id", "match_id")
    )
    ex = sim1_topk_cosine(spark, sf_dir).select("query_id", "match_id")
    hits = topk.join(ex, ["query_id", "match_id"]).groupBy("n_probe").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    cands = c2.groupBy("n_probe").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    return cands.join(hits, "n_probe", "left").select(
        F.col("n_probe").cast("bigint").alias("n_probe"),
        "n_candidates",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        (
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.lit(float(N_QUERIES * TOP_K))
        ).alias("mean_recall"),
        (F.col("n_candidates").cast("double") / F.lit(float(N_QUERIES))).alias(
            "mean_candidates"
        ),
    )


if sim19_nprobe_recall_sweep.__doc__:  # absent under python -OO
    sim19_nprobe_recall_sweep.__doc__ = sim19_nprobe_recall_sweep.__doc__.format(
        TOP_K=TOP_K, NPROBE_SWEEP=NPROBE_SWEEP, _MAX_NPROBE=_MAX_NPROBE
    )


SIM20_POOL = 25  # stage-1 coarse candidate pool per query (rerank input)


@register(
    "sim20_two_stage_rerank",
    oracle=f"""
WITH e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
s AS (
  SELECT vec_id, v,
         CAST(127 AS DOUBLE) / list_max(list_transform(v, x -> abs(x))) AS scale
  FROM e0
  WHERE list_max(list_transform(v, x -> abs(x))) > 0
),
q AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(greatest(-127, least(127,
           floor(x * scale + 0.5))) AS BIGINT)) AS qv
  FROM s
),
coarse AS (
  SELECT a.vec_id AS query_id, b.vec_id AS match_id,
         a.v AS qv_full, b.v AS cv_full,
         CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
              i -> a.qv[CAST(i AS INT)] * b.qv[CAST(i AS INT)])) AS DOUBLE)
           / (a.scale * b.scale) AS approx_score
  FROM q a JOIN q b ON b.vec_id != a.vec_id
  WHERE a.vec_id < {N_QUERIES}
),
pool AS (
  SELECT query_id, match_id, qv_full, cv_full
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY approx_score DESC, match_id) AS crk
    FROM coarse
  ) WHERE crk <= {SIM20_POOL}
)
SELECT query_id, match_id, cos_sim, rank
FROM (
  SELECT query_id, match_id,
         ROUND(list_cosine_similarity(qv_full, cv_full), 6) AS cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY ROUND(list_cosine_similarity(qv_full, cv_full), 6) DESC,
                       match_id) AS BIGINT) AS rank
  FROM pool
)
WHERE rank <= {TOP_K}
""",
    tags=("similarity", "ann", "quantization", "rerank"),
)
def sim20_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE retrieval (r10) — the standard production serving
    shape sim7/sim10 priced but nothing composed end-to-end: stage 1
    scores every candidate with the CHEAP representation (per-vector
    symmetric int8, sim7's quantizer — integer dot products, 4 bytes/
    dim cheaper to scan and exact BIGINT math on both engines) and
    keeps a top-{R} pool per query; stage 2 re-scores only the pool
    with exact full-precision cosine and emits the top-{K}. At 100 TB
    stage 1 is the only corpus-wide pass (int8 cuts scan bytes 4x and
    the dot to integer SIMD), and stage-2 cost is query-count x {R} —
    corpus-independent. Composes with the IVF index (ann.py) by running
    stage 1 inside probed cells only.

    Exchange discipline (VERDICT r10 finding 1): the stage-1 top-{R}
    window shuffles ONLY ``(query_id, match_id, approx_score)`` — 24
    bytes/row — never the full-precision vectors (carrying them through
    the queries x corpus candidate exchange would move ~1 KB/row, the
    exact bandwidth the int8 scan exists to save). Stage 2 re-fetches
    vectors by broadcasting the corpus-INDEPENDENT pool (<= queries x
    {R} ids) against the embeddings relation: one more corpus-resident
    scan, but scans are the cheap axis (pruned columnar read, no
    network) and the query-side fetches push ``vec_id < {NQ}`` down to
    the reader. Asserted in tests/test_plans.py: no array column in any
    shuffle exchange's input.

    Determinism: the coarse score is an exact integer dot cast to
    double and divided by the two stored scales — identical IEEE ops in
    both engines — with match_id tiebreaks on both windows; stage-2
    cosine is the proven sequential-fold/list_cosine_similarity parity
    pair rounded to 6 dp."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    maxabs = F.array_max(F.transform("v", lambda x: F.abs(x)))
    quant = (
        e.withColumn("maxabs", maxabs)
        .filter(F.col("maxabs") > 0)
        .withColumn("scale", F.lit(127.0) / F.col("maxabs"))
        .withColumn(
            "qv",
            F.transform(
                "v",
                lambda x: F.greatest(
                    F.lit(-127.0),
                    F.least(F.lit(127.0), F.floor(x * F.col("scale") + 0.5)),
                ).cast("bigint"),
            ),
        )
        .select("vec_id", "qv", "scale")
    )
    qs = quant.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_int"),
        F.col("scale").alias("q_scale"),
    )
    cand = quant.select(
        F.col("vec_id").alias("match_id"),
        F.col("qv").alias("c_int"),
        F.col("scale").alias("c_scale"),
    )
    int_dot = F.aggregate(
        F.zip_with("q_int", "c_int", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    # the int vectors die HERE, in the map-side projection: only the
    # 24-byte (query_id, match_id, approx_score) triple reaches the
    # top-pool window's exchange below
    coarse = (
        F.broadcast(qs)
        .join(cand, F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            (int_dot.cast("double") / (F.col("q_scale") * F.col("c_scale"))).alias(
                "approx_score"
            ),
        )
    )
    w_coarse = Window.partitionBy("query_id").orderBy(
        F.desc("approx_score"), F.asc("match_id")
    )
    pool = (
        coarse.withColumn("crk", F.row_number().over(w_coarse))
        .filter(F.col("crk") <= SIM20_POOL)
        .select("query_id", "match_id")
    )
    # stage 2: fetch full-precision vectors for the <= queries x POOL
    # surviving ids — the pool broadcasts (corpus-independent), the
    # query side pushes vec_id < N_QUERIES to the parquet reader
    full = e.withColumn("norm", _norm(F.col("v")))
    qfull = full.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv_full"),
        F.col("norm").alias("q_norm"),
    )
    stage2 = (
        full.select(
            F.col("vec_id").alias("match_id"),
            F.col("v").alias("cv_full"),
            F.col("norm").alias("c_norm"),
        )
        .join(F.broadcast(pool), "match_id")
        .join(F.broadcast(qfull), "query_id")
    )
    cos = _cosine_pre(
        F.col("qv_full"), F.col("cv_full"), F.col("q_norm"), F.col("c_norm")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("match_id")
    )
    return (
        stage2.select("query_id", "match_id", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
    )


if sim20_two_stage_rerank.__doc__:  # absent under python -OO
    sim20_two_stage_rerank.__doc__ = sim20_two_stage_rerank.__doc__.format(
        R=SIM20_POOL, K=TOP_K, NQ=N_QUERIES
    )


# doc attribution encoding for chunk vector ids: vec_id =
# (doc_id + 1) * CHUNK_ID_BASE + chunk_idx (the +1 keeps doc 0's chunk
# ids clear of the query-id range; chunk_idx is bounded far below 2^20)
CHUNK_ID_BASE = 1 << 20


def _sim21_oracle() -> str:
    from kinesis_spark.queries import WS_RE
    from kinesis_spark.queries.textstats import CHUNK_STRIDE, CHUNK_TOKENS

    W, S = CHUNK_TOKENS, CHUNK_STRIDE
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(text, '{WS_RE}') AS toks FROM documents
),
spec AS (
  SELECT doc_id, toks,
         1 + GREATEST(0, (CAST(len(toks) AS BIGINT) - {W} + {S} - 1) // {S})
           AS n_chunks
  FROM toks
),
chunks AS (
  SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_idx,
         md5(array_to_string(
               list_slice(toks, g.i * {S} + 1, g.i * {S} + {W}), ' '))
           AS chunk_hash
  FROM spec, UNNEST(generate_series(0, n_chunks - 1)) AS g(i)
),
cvec AS (
  SELECT (c.doc_id + 1) * {CHUNK_ID_BASE} + c.chunk_idx AS vec_id,
         c.doc_id, c.chunk_idx, em.label, CAST(em.embedding AS DOUBLE[]) AS v
  FROM chunks c JOIN embeddings em
    ON em.vec_id = CAST(('0x' || substr(c.chunk_hash, 1, 15)) AS BIGINT)
                   % (SELECT COUNT(*) FROM embeddings)
),
centroids AS (
  SELECT label, list(mc ORDER BY idx) AS cv
  FROM (
    SELECT label, CAST(i AS BIGINT) AS idx,
           CAST(SUM(CAST(FLOOR(CAST(comp AS DOUBLE) * 1073741824.0)
                         AS DECIMAL(38,0)))
                AS DOUBLE) / 1073741824.0 / COUNT(*) AS mc
    FROM (
      SELECT label, CAST(i AS BIGINT) AS i, v[CAST(i AS INT)] AS comp
      FROM cvec, UNNEST(range(1, len(v) + 1)) AS t(i)
    ) q GROUP BY label, i
  ) m GROUP BY label
),
assign AS (
  SELECT x.vec_id, x.doc_id, x.chunk_idx, x.v, c.label AS cell,
         ROW_NUMBER() OVER (PARTITION BY x.vec_id
                            ORDER BY ROUND(list_sum(list_transform(
                                range(1, len(x.v) + 1),
                                i -> (x.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                                   * (x.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 6),
                            c.label) AS crk
  FROM cvec x CROSS JOIN centroids c
),
cells AS (
  SELECT vec_id, doc_id, chunk_idx, v, cell FROM assign WHERE crk = 1
),
qs AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.label AS cell,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY ROUND(list_sum(list_transform(
                                  range(1, len(q.qv) + 1),
                                  i -> (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                                     * (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 6),
                              c.label) AS crk
    FROM qs q CROSS JOIN centroids c
  ) WHERE crk <= {N_PROBE}
),
scored AS (
  SELECT p.query_id, c.vec_id AS match_id, c.doc_id, c.chunk_idx,
         ROUND(list_cosine_similarity(p.qv, c.v), 6) AS cos_sim
  FROM probes p JOIN cells c ON c.cell = p.cell
  WHERE c.vec_id != p.query_id
)
SELECT query_id, doc_id, chunk_idx, cos_sim, rank
FROM (
  SELECT query_id, doc_id, chunk_idx, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, match_id) AS BIGINT)
           AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


@register(
    "sim21_chunk_retrieval",
    oracle=_sim21_oracle(),
    tags=("similarity", "ann", "ivf", "chunking", "rag"),
)
def sim21_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG INDEXING PIPELINE end-to-end (VERDICT r10 task 6) — t20's
    chunks finally meet the persisted IVF index: documents are chunked
    on t20's schedule (the retrieval units chunking exists for), each
    chunk is embedded, the chunk vectors build a PERSISTED IVF index
    (ann.py — cells partitioned by cell id, bootstrapped once per
    documents (path, mtime) like p9's gram index), and the standard
    10-query set retrieves top-{K} CHUNKS with doc attribution
    (doc_id, chunk_idx) — the serving path a RAG stack runs per user
    query.

    The encoder is a deterministic STAND-IN (this container ships no
    embedding model — the multimodal-stub precedent): each chunk maps
    to the corpus embedding row keyed by its md5 content hash
    (conv(hash[:15], 16, 10) % n_vectors), so identical chunks embed
    identically, the mapping is content-determined on both engines,
    and every Spark-side moving part — chunk schedule, id encoding
    ((doc_id+1)*2^20 + chunk_idx), index build/probe, attribution
    decode — is real and oracle-checked. A real encoder replaces ONE
    projection (a pandas_udf over chunk_text) without touching the
    index or serving shape.

    Scale shape: the chunk relation is map-only (t20); the stand-in
    join is where the encoder UDF would run map-side; the index build
    is one assignment pass (build-time, amortized across queries by
    the on-disk index exactly like p9's gram store); the probe reads
    ONLY the probed cell partitions (PartitionFilters at file listing,
    plan-asserted in tests/test_plans.py) and reranks
    queries x nprobe/n_cells of the chunk corpus by exact cosine."""
    from kinesis_spark.ann import build_ivf_index, query_ivf_index
    from kinesis_spark.prep_index import ensure_local_index
    from kinesis_spark.queries.textstats import chunk_relation

    emb = load_table(spark, sf_dir, "embeddings")
    n_vecs = emb.count()  # one bounded scalar (parquet footer count)

    def _chunk_vectors() -> DataFrame:
        d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        chunks = chunk_relation(d, text=False)
        key = (
            F.conv(F.substring("chunk_hash", 1, 15), 16, 10).cast("bigint")
            % F.lit(n_vecs)
        )
        e = emb.select(F.col("vec_id").alias("k"), "embedding", "label")
        return (
            chunks.select(
                (
                    (F.col("doc_id") + 1) * F.lit(CHUNK_ID_BASE)
                    + F.col("chunk_idx")
                ).alias("vec_id"),
                key.alias("k"),
            )
            .join(e, "k")
            .select("vec_id", "label", "embedding")
        )

    idx = ensure_local_index(
        sf_dir,
        "kinesis_chunk_ivf",
        lambda scratch: build_ivf_index(_chunk_vectors(), scratch),
    )
    qs = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    res = query_ivf_index(spark, idx, qs, top_k=TOP_K, n_probe=N_PROBE)
    return res.select(
        "query_id",
        (F.shiftright("match_id", 20) - 1).cast("bigint").alias("doc_id"),
        F.col("match_id")
        .bitwiseAND(F.lit(CHUNK_ID_BASE - 1))
        .cast("bigint")
        .alias("chunk_idx"),
        "cos_sim",
        "rank",
    )


if sim21_chunk_retrieval.__doc__:  # absent under python -OO
    sim21_chunk_retrieval.__doc__ = sim21_chunk_retrieval.__doc__.format(
        K=TOP_K
    )
