"""Deduplication operators over ``documents`` (BASELINE north star):
exact (group-by / content-hash), MinHash+LSH banding, n-gram Jaccard
verification, SimHash, and embedding-cosine near-dup.

Scale design:
- Exact dedup groups on a 256-bit content hash — shuffle keys are 64 B,
  not document bodies.
- MinHash/LSH: signatures are per-row narrow transforms; candidate
  generation joins docs on band keys (equi-join, shuffle on short strings)
  — never an all-pairs product. Pair verification runs only on candidates.
- Embedding near-dup blocks on the ``label`` column (a cluster id) to
  bound the pair space; the general-purpose ANN path is in similarity.py.

Cross-engine determinism: md5/sha256 are bit-identical in Spark and
DuckDB (verified); min-of-hex-strings and integer set sizes are exact.
(md5 is the cross-engine-verifiable choice; a production deployment
that doesn't need an external oracle can swap the token/shingle hash
for Spark's native ``xxhash64`` — same plan shapes, cheaper hashing.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_spark.io import ensure_min_partitions, load_table
from kinesis_spark.minhash import (
    BAND_ROWS,
    MIN_WORDS_SQL,
    MINHASH_MIN_WORDS,
    N_HASHES,
    _SHINGLES_SQL,
    _shingles_of,
    _tokens_barrier,
    band_key_array,
    signatures,
    sigs_bands_sql,
)
from kinesis_spark.pins import pin, pin_shared
from kinesis_spark.queries import WS_RE, register

SIM_BITS = 60  # simhash width: 15 md5 hex chars → fits signed int64 exactly
SIM_BAND_BITS = 15  # 4 bands of 15 bits for simhash LSH
SIM_HAMMING_MAX = 8  # near-dup threshold on 60-bit signatures
SIM_MAX_BUCKET = 32  # SimHash band-bucket cap (d14's argument, 15-bit bands)


def _ordered_pairs(members, pair_of=None):
    """ONE definition of the within-bucket ordered-pair expansion (all
    i < j pairs of a SORTED member array, as an array of structs) shared
    by d3/d7/d14/d16 — a drift in the slice bounds or pair semantics
    would otherwise need four synchronized edits. ``pair_of(x, y)``
    builds the pair struct; default is plain (doc_a, doc_b) ids."""
    if pair_of is None:
        def pair_of(x, y):
            return F.struct(x.alias("doc_a"), y.alias("doc_b"))

    return F.flatten(
        F.transform(
            members,
            lambda x, i: F.transform(
                F.slice(members, i + 2, F.size(members)),
                lambda y: pair_of(x, y),
            ),
        )
    )


def _minhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh7) of every doc with MINHASH_MIN_WORDS tokens —
    the signature relation of the banding pipeline (d3/d14 via
    :func:`_lsh_band_buckets`) and of signature-space estimation
    (d19). Row-local (kinesis_spark/minhash.py), so no Exchange: the
    earlier explode→groupBy-min form shuffled ~300 B/doc and measured
    2× slower at sf0.1 (0.74 s → 0.37 s, OPTIMIZATION_r11.md)."""
    return signatures(_tokens_barrier(docs, min_words=MINHASH_MIN_WORDS))


def _pairs_of(buckets: DataFrame) -> DataFrame:
    """Within-bucket ordered-pair expansion shared by d3/d14/d19 —
    one definition of the candidate output shape."""
    return (
        buckets.select(F.explode(_ordered_pairs(F.col("ids"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def _lsh_band_buckets(
    docs: DataFrame | None,
    max_bucket: int | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """ONE definition of the MinHash({n})+LSH banding pipeline shared by
    d3 (uncapped) and d14 (capped): row-local signatures → band keys →
    per-bucket SORTED member arrays with >= 2 members (and <= max_bucket
    when capped).

    Plan shape (the reason this is grouped, not self-joined): a band
    self-join would run the whole signature pipeline twice (plan audits
    count the scans). Grouping on band_key shuffles the same key the
    join would and collects each bucket's members for
    :func:`_ordered_pairs`.
    """
    if sigs is None:
        sigs = _minhash_sigs(docs)
    bands = sigs.select("doc_id", F.explode(band_key_array()).alias("band_key"))
    keep = F.size("ids") >= 2
    if max_bucket is not None:
        keep = keep & (F.size("ids") <= max_bucket)
    return (
        bands.groupBy("band_key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(keep)
    )


if _lsh_band_buckets.__doc__:  # absent under python -OO
    _lsh_band_buckets.__doc__ = _lsh_band_buckets.__doc__.format(n=N_HASHES)

# 2-gram variant for Jaccard verification (3-gram overlap is near zero in
# the fixture corpus; bigrams exercise the operator with real matches)
_SHINGLES2_SQL = (
    "list_sort(list_distinct(list_transform("
    "range(1, len(regexp_split_to_array(text, '[ \\t\\n\\f\\r\\x0B]+'))), "
    "i -> regexp_split_to_array(text, '[ \\t\\n\\f\\r\\x0B]+')[i] || ' ' || "
    "regexp_split_to_array(text, '[ \\t\\n\\f\\r\\x0B]+')[i+1])))"
)


@register(
    "d1_exact_dedup",
    oracle="""
SELECT MIN(doc_id) AS rep_doc_id,
       COUNT(*) AS n_copies,
       MIN(n_chars) AS n_chars
FROM documents
GROUP BY text
""",
    tags=("dedup", "exact"),
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one representative (min doc_id) per distinct text."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    ).drop("text")


@register(
    "d2_content_hash_dedup",
    oracle="""
SELECT sha256(text) AS content_hash,
       MIN(doc_id) AS rep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY sha256(text)
""",
    tags=("dedup", "hash"),
)
def d2_content_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup: at 100 TB the shuffle key is the 64-char hash,
    not the document body (this is why it exists next to d1)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.sha2("text", 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


MAX_BUCKET = 4  # LSH bucket-size cap: bigger buckets are dropped wholesale

# The CAPPED candidate CTE (d14's semantics): hot band keys are dropped
# wholesale before pair expansion. This is the candidate relation the
# VERIFY/CONSUME family (d9/d10/d13/d17, setops' s14) defaults to —
# uncapped pair volume grows quadratically in dup-group width (measured
# 31.9x wall for d10 at a 30x duplicate-heavy corpus, SCALE_r07_x30), and
# d10's pair-list broadcast would hit the broadcast ceiling outright.
_CAPPED_PAIRS_SQL = (
    sigs_bands_sql("documents", MIN_WORDS_SQL)
    + f""",
kept AS (
  SELECT band_key FROM bands
  GROUP BY band_key
  HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN kept k ON a.band_key = k.band_key
  JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""
)


@register(
    "d3_minhash_lsh_pairs",
    oracle=f"""
WITH {_CAPPED_PAIRS_SQL}
SELECT doc_a, doc_b FROM pairs
""",
    tags=("dedup", "minhash", "lsh", "capped"),
)
def d3_minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, uncapped: bool = False
) -> DataFrame:
    """MinHash(8) + LSH banding (4 bands × 2 rows): candidate near-dup
    pairs = docs sharing at least one band. The band grouping shuffles
    only (doc_id, 64-B key) pairs — no all-pairs blowup; pipeline and
    pair expansion live in the shared :func:`_lsh_band_buckets` /
    :func:`_ordered_pairs` helpers (one definition for d3 and d14).

    The REGISTERED face is CAPPED (VERDICT r9 task 1): hot band buckets
    (> MAX_BUCKET members — boilerplate collisions carrying no near-dup
    signal) are dropped wholesale BEFORE pair expansion, bounding
    per-bucket work at MAX_BUCKET². The uncapped form measured 19.6×
    wall at a 30× duplicate-heavy corpus (SCALE_r08_x30, d9 docstring) —
    a user running the registered query verbatim must not hit that.
    ``uncapped=True`` is the explicitly-diagnostic escape hatch (bucket
    contrast studies, d21-style calibration on bounded samples)."""
    return _pairs_of(
        _lsh_band_buckets(
            load_table(spark, sf_dir, "documents"),
            max_bucket=None if uncapped else MAX_BUCKET,
        )
    )


@register(
    "d4_jaccard_verify",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES2_SQL} AS shingles
  FROM documents
  WHERE len(regexp_split_to_array(text, '[ \\t\\n\\f\\r\\x0B]+')) >= 3
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_distinct(list_intersect(a.shingles, b.shingles))) AS BIGINT)
           AS n_inter,
         CAST(len(a.shingles) + len(b.shingles)
              - len(list_distinct(list_intersect(a.shingles, b.shingles))) AS BIGINT)
           AS n_union
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND a.doc_id < 50 AND b.doc_id < 50
)
SELECT doc_a, doc_b, n_inter, n_union,
       CAST(n_inter AS DOUBLE) / n_union AS jaccard
FROM pairs
WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.05
""",
    tags=("dedup", "jaccard"),
)
def d4_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard on a bounded doc subset (the verification
    stage that follows LSH candidate generation; |A∪B| computed as
    |A|+|B|−|A∩B| since the shingle arrays are distinct)."""
    tokd = _tokens_barrier(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50),
        min_words=3,
    )
    sh = tokd.select("doc_id", _shingles_of(F.col("toks"), k=2).alias("shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    n_inter = F.size(
        F.array_intersect(F.col("a.shingles"), F.col("b.shingles"))
    ).cast("bigint")
    n_union = (
        F.size(F.col("a.shingles")) + F.size(F.col("b.shingles"))
    ).cast("bigint") - n_inter
    jac = n_inter.cast("double") / n_union
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            n_inter.alias("n_inter"),
            n_union.alias("n_union"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.05)
    )


def _simhash_sums_sql() -> str:
    """Per-bit signed vote sums over term-frequency-weighted token hashes."""
    return ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIM_BITS)
    )


_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\f\\r\\x0B]+')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM toks WHERE tok <> ''
),
votes AS (
  SELECT doc_id, {_simhash_sums_sql()}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id,
       {" + ".join(f"(CASE WHEN s{j} > 0 THEN CAST(1 AS BIGINT) << {j} ELSE 0 END)" for j in range(SIM_BITS))}
         AS simhash
FROM votes
"""


# Packed vote-counter layout: 3 per-bit token counters per long, each a
# 21-bit field (offsets 0/21/42), so the 60 counters live in 20 sums
# instead of 60. SIM_PACK_C spreads a 3-bit group of the token hash into
# the three field positions with one multiply (the partial products land
# in disjoint bit ranges 0-2/20-22/40-42, so no carries), SIM_PACK_M
# masks each bit into its own field. Exact while every per-doc token
# count stays below 2^21 (~2.1M tokens/doc — guarded in _simhash_df).
SIM_PACK_FIELD = 21
SIM_PACK_C = 1 + (1 << (SIM_PACK_FIELD - 1)) + (1 << (2 * (SIM_PACK_FIELD - 1)))
SIM_PACK_M = 1 + (1 << SIM_PACK_FIELD) + (1 << (2 * SIM_PACK_FIELD))


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → 60-bit SimHash. One explode + one groupBy; the 60
    per-bit vote counters are PACKED 3-per-long (21-bit fields, see
    SIM_PACK_C), so the shuffle carries (doc_id, 21 longs) per map
    partition per doc instead of 61 — ~3× fewer signature-stage shuffle
    bytes at any scale (guide §2.3), and ~1/3 the aggregate buffer
    updates per token. Same exact integer result as the unpacked form:
    each field accumulates one bit's token count independently (no
    carries while counts < 2^21; the per-doc token count n is aggregated
    anyway and guarded below). Measured bit-identical at sf0.1/x10 and
    −7% at the x10 replica corpus (OPTIMIZATION_r12.md §simhash);
    the per-bit vote s_j = (+1 per set bit, −1 per clear bit) reduces to
    2*ones_j > n exactly as before."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.explode(F.split("text", r"[ \t\n\f\r\x0B]+")).alias("tok")
    ).filter(F.col("tok") != "")
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    groups = SIM_BITS // 3
    packs = [
        F.sum(
            (F.shiftright("h", 3 * g).bitwiseAND(F.lit(7)) * F.lit(SIM_PACK_C))
            .bitwiseAND(F.lit(SIM_PACK_M))
        ).alias(f"s{g}")
        for g in range(groups)
    ]
    votes = toks.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), *packs
    )
    # field-overflow guard: a doc with >= 2^21 tokens would silently
    # corrupt its neighbors' counters; fail loudly instead. ONE branch
    # per DOC added as a (always-0) term on the signature — cost is
    # unmeasurable, and the raise_error branch appears once in the plan.
    guard = F.when(
        F.col("n") < F.lit(1 << SIM_PACK_FIELD), F.lit(0).cast("bigint")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("simhash packed votes overflow: doc has >= 2^21 "
                      "tokens (doc_id "),
                F.col("doc_id").cast("string"),
                F.lit(")"),
            )
        ).cast("bigint")
    )
    mask = (1 << SIM_PACK_FIELD) - 1
    simhash = guard
    for j in range(SIM_BITS):
        g, f = divmod(j, 3)
        ones = F.shiftright(f"s{g}", SIM_PACK_FIELD * f).bitwiseAND(F.lit(mask))
        bit = F.when(
            ones * 2 > F.col("n"), F.lit(1).cast("bigint") * (1 << j)
        ).otherwise(F.lit(0).cast("bigint"))
        simhash = simhash + bit
    return votes.select("doc_id", simhash.alias("simhash"))


@register(
    "d6_simhash_signature",
    oracle=_SIMHASH_ORACLE,
    tags=("dedup", "simhash"),
)
def d6_simhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit) per document: per-bit majority vote over md5 token
    hashes, term-frequency weighted. Bit-identical across engines because
    the hash, the vote, and the bit assembly are all exact integer math."""
    return _simhash_df(spark, sf_dir)


# ONE definition of the oracle-side SimHash banding (sigs -> bands)
# shared by d7 (uncapped detection face) and d20 (capped production
# face) — the band scheme must never drift between them.
_SIM_BANDS_SQL = f"""sigs AS ({_SIMHASH_ORACLE}),
bands AS (
  SELECT doc_id, simhash, b.band_idx,
         (simhash >> (b.band_idx * {SIM_BAND_BITS})) & {(1 << SIM_BAND_BITS) - 1} AS band_val
  FROM sigs, (SELECT unnest(range({SIM_BITS // SIM_BAND_BITS})) AS band_idx) b
)"""


# ONE definition of the CAPPED SimHash-pair oracle (bands sharing a
# 15-bit value with 2..SIM_MAX_BUCKET members expand; hotter buckets
# drop wholesale) — shared verbatim by d7 (registered default face since
# r10, VERDICT r9 task 1) and d20 (the original capped registration).
_SIM_CAPPED_PAIRS_ORACLE = f"""
WITH {_SIM_BANDS_SQL},
kept AS (
  SELECT band_idx, band_val FROM bands
  GROUP BY band_idx, band_val
  HAVING COUNT(*) BETWEEN 2 AND {SIM_MAX_BUCKET}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM bands a
JOIN kept k ON a.band_idx = k.band_idx AND a.band_val = k.band_val
JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIM_HAMMING_MAX}
"""


@register(
    "d7_simhash_pairs",
    oracle=_SIM_CAPPED_PAIRS_ORACLE,
    tags=("dedup", "simhash", "lsh", "capped"),
)
def d7_simhash_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_bucket: int | None = SIM_MAX_BUCKET,
    uncapped: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs via banded LSH: 60-bit signatures split into
    4×15-bit bands; docs sharing any band become candidates (equi-join on
    (band_idx, band_val) — never all-pairs), then exact Hamming distance
    filters to ≤ 8 bits. At 100 TB the band join shuffles only
    (doc_id, simhash, 2 ints) rows.

    The REGISTERED face is CAPPED since r10 (VERDICT r9 task 1):
    ``max_bucket`` defaults to SIM_MAX_BUCKET, dropping hot band buckets
    wholesale before pair expansion — the uncapped form measured 22.5×
    wall AND a driver OOM at the default 8 GiB heap on a 30×
    duplicate-heavy corpus (SCALE_r09_x30). ``uncapped=True`` is the
    explicitly-diagnostic escape hatch (contrast studies on bounded
    inputs, e.g. tests/test_simhash_props.py's planted-hot-bucket
    case)."""
    if uncapped:
        max_bucket = None
    sigs = _simhash_df(spark, sf_dir)
    n_bands = SIM_BITS // SIM_BAND_BITS
    mask = (1 << SIM_BAND_BITS) - 1
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright("simhash", b * SIM_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    # Single-scan within-bucket expansion (same rationale as d3): the
    # band self-join would run the signature aggregation twice. Buckets
    # carry (doc_id, simhash) structs so the Hamming verify reads both
    # signatures straight out of the pair.
    keep = F.size("ms") >= 2
    if max_bucket is not None:
        keep = keep & (F.size("ms") <= max_bucket)
    buckets = (
        bands.groupBy("band_idx", "band_val")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("ms"))
        .filter(keep)
    )
    pair_arr = _ordered_pairs(
        F.col("ms"),
        pair_of=lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            F.bit_count(x["simhash"].bitwiseXOR(y["simhash"]))
            .cast("bigint")
            .alias("hamming"),
        ),
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .filter(F.col("hamming") <= SIM_HAMMING_MAX)
        .distinct()
    )


D5_TARGET = 64  # target block population for d5's adaptive sub-bucketing


@register(
    "d5_embedding_near_dup",
    oracle=f"""
WITH e0 AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         -- sign string spans the ACTUAL vector dimension (ADVICE r10:
         -- a hardcoded range(1, 65) silently padded/truncated at 64
         -- and would diverge from Spark's size(v)-derived signs if the
         -- fixture dimension ever changed)
         list_aggregate(list_transform(range(1, len(embedding) + 1),
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
    SELECT *, CAST(CEIL(COUNT(*) OVER (PARTITION BY label) / {D5_TARGET}.0)
                   AS BIGINT) AS m
    FROM e0
  )
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM e a JOIN e b
  ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.3
""",
    tags=("dedup", "embedding", "capped"),
)
def d5_embedding_near_dup(
    spark: SparkSession, sf_dir: str, unbounded: bool = False
) -> DataFrame:
    """Embedding-cosine near-dup with BOUNDED blocks (r10 — caught by
    the registry-wide scale table, SCALE_FULL.md: the bare-label
    blocking measured 32.3× at 10× data, the one superlinear entry in
    the whole registry, because within-block pairs grow quadratically
    with block population). Same mitigation as sim9/d14: within each
    label block, vectors sub-bucket by their first ``nbits`` component
    signs where nbits = length(bin(ceil(n_label/{T})-1)) — block
    population stays ~{T} however large a label grows, so the pair
    stage is corpus-linear. Integer-exact bit count on both engines; at
    the fixture scales every label holds ≤{T} vectors, so nbits = 0
    and the bounded face is output-identical to the old one. Near pairs
    straddling a sign bit escape detection — the standard LSH recall
    trade (d3's banding makes the same one); ``unbounded=True`` is the
    exact-within-label diagnostic escape hatch. Cosine = sequential
    double fold — verified bit-identical to DuckDB's
    list_cosine_similarity."""
    v = F.transform("embedding", lambda x: x.cast("double")).alias("v")
    # norm per ROW (2k evaluations), not per pair (200k at sf0.1): the
    # projection sits below the self-join, so each side computes its norm
    # once; only the dot-product fold runs per pair. Same fp result — the
    # norm expression is identical, just evaluated earlier.
    e = ensure_min_partitions(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", v
    )
    if unbounded:
        e = e.withColumn("bucket", F.lit(""))
    else:
        signs = F.array_join(
            F.transform("v", lambda x: F.when(x >= 0, "1").otherwise("0")), ""
        )
        m = F.ceil(
            F.count(F.lit(1)).over(Window.partitionBy("label"))
            / F.lit(float(D5_TARGET))
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
        )
    e = e.withColumn(
        "norm",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
            )
        ),
    )
    a = e.alias("a")
    b = e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.round(dot / (F.col("a.norm") * F.col("b.norm")), 6)
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.3)
    )


if d5_embedding_near_dup.__doc__:  # absent under python -OO
    d5_embedding_near_dup.__doc__ = d5_embedding_near_dup.__doc__.format(
        T=D5_TARGET
    )


MAX_CC_ITERS = 20


@register(
    "d9_dedup_components",
    oracle=f"""
WITH RECURSIVE
{_CAPPED_PAIRS_SQL},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(v, u) AS (
  SELECT doc_id, doc_id FROM sigs
  UNION
  SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src
)
SELECT v AS doc_id, MIN(u) AS component,
       CAST(COUNT(*) AS BIGINT) AS component_size
FROM reach
GROUP BY v
""",
    tags=("dedup", "components", "iterative"),
)
def d9_dedup_components(
    spark: SparkSession, sf_dir: str, candidates: DataFrame | None = None
) -> DataFrame:
    """Dedup clusters: connected components over the MinHash-LSH
    candidate graph via iterative min-label propagation — the step that
    turns pairwise matches into dedup groups.

    ``candidates`` is the (doc_a, doc_b) edge source; the default is the
    CAPPED relation (d14 — hot LSH buckets dropped wholesale before pair
    expansion). The uncapped graph (pass ``d3_minhash_lsh_pairs(..., uncapped=True)``)
    grows quadratically in dup-group width: at a 30x duplicate-heavy
    corpus the downstream verify/select stages measured 19-32x wall
    (SCALE_r07_x30), and at 100 TB a hot template bucket alone can
    produce more pairs than the cluster can shuffle. The cap bounds
    per-bucket work at MAX_BUCKET**2 while keeping every informative
    collision — the standard web-scale MinHash practice (d14 docstring).
    Contract (ADVICE r11): candidate endpoints are assumed to come from
    the >= 3-token document set (d14's universe). The candidate-subgraph
    iteration takes its touched set from the EDGES, so an external
    caller passing pairs whose endpoints lie outside that set gets them
    included as component members — the pre-r11 corpus-vertex form
    silently dropped them instead. Deliberate: edges name real
    documents; dropping an endpoint would corrupt its component's size.

    Each iteration is one join + one aggregation (label[v] :=
    min(label[v], min over neighbors)); the driver loop only checks a
    scalar convergence count, never touches row data, so the algorithm
    is shuffle-bound and scales with the cluster. Candidate graphs from
    near-dup detection have tiny diameters (duplicates of one document
    form near-cliques), so convergence takes O(diameter) ≈ 2-4 rounds.
    The oracle replays it with a recursive reachability CTE; component =
    min doc_id reachable, component_size = |reachable set| (equal for
    every member of a component, a cross-check that labels converged).
    """
    pairs = candidates if candidates is not None else d14_capped_lsh_pairs(
        spark, sf_dir
    )
    # pin (eager; reliable checkpoint under a checkpoint dir, else
    # localCheckpoint): materializes AND truncates lineage, so
    # iteration N's plan doesn't replay iterations 0..N-1 (lineage growth
    # is the classic iterative-DataFrame trap). A persist-based
    # pin_shared here (the g1/g2 static-relation change, OPTIMIZATION
    # r11) was MEASURED SLOWER in a same-session A/B (+42% at x10,
    # best-of-2): unlike g1/g2's repartitioned-by-src edge relation,
    # this candidate relation isn't key-partitioned for the per-round
    # join, so persist only swaps block reads for a columnar cache scan
    # and loses — the checkpoint stays.
    edges = (
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .withColumnsRenamed({"doc_a": "src", "doc_b": "dst"})
        .transform(pin)
    )
    # Iterate over the CANDIDATE SUBGRAPH only (OPTIMIZATION r11): a
    # label can change only on a node that has an edge, so the loop's
    # state is the edge-endpoint set — candidate-scale, a small fraction
    # of the corpus — instead of every >=3-token document. The previous
    # corpus-wide form shuffled and pinned the full vertex relation
    # every round (corpus-scale per-iteration state at 100 TB); now the
    # corpus appears exactly once, in the final singleton anti-join.
    # Output is identical: propagation never crosses an edge boundary,
    # so untouched docs are singleton components (component = doc_id,
    # size = 1) by definition — measured 2.6 s -> 1.3 s at sf0.1.
    touched = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = touched.withColumn("component", F.col("doc_id")).transform(pin)
    for _ in range(MAX_CC_ITERS):
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy("dst")
            .agg(F.min("component").alias("n_min"))
        )
        # carry the previous label through the join so convergence is a
        # filter on THIS frame (no second join against the old labels)
        stepped = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.dst, "left")
            .select(
                "doc_id",
                F.col("component").alias("prev"),
                F.least(
                    F.col("component"), F.coalesce("n_min", F.col("component"))
                ).alias("component"),
            )
            .transform(pin)
        )
        changed = stepped.filter(F.col("component") != F.col("prev")).count()
        labels = stepped.drop("prev")
        if changed == 0:
            break
    else:
        # LOUD, never silent: returning unconverged labels would split a
        # component into several "clusters" with wrong sizes while the
        # oracle computes the exact closure — a chain-shaped candidate
        # graph longer than MAX_CC_ITERS hops is the trigger (near-dup
        # graphs are near-cliques, so 20 is enormous headroom, but a
        # pathological corpus must fail, not lie)
        raise RuntimeError(
            f"component propagation did not converge in {MAX_CC_ITERS} "
            f"iterations ({changed} labels still moving)"
        )
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("component_size")
    )
    # no broadcast hint: `sizes` has one row per component, which is
    # corpus-order at 100 TB (most docs are singleton components). A
    # shuffle join on `component` is correct at any scale, and AQE will
    # still broadcast it at runtime when it genuinely fits.
    clustered = labels.join(sizes, "component").select(
        "doc_id", "component", "component_size"
    )
    singles = (
        _tokens_barrier(load_table(spark, sf_dir, "documents"), min_words=3)
        .select("doc_id")
        .join(touched, "doc_id", "left_anti")
        .select(
            "doc_id",
            F.col("doc_id").alias("component"),
            F.lit(1).cast("bigint").alias("component_size"),
        )
    )
    return clustered.unionAll(singles)


@register(
    "d10_edit_distance_verify",
    oracle=f"""
WITH {_CAPPED_PAIRS_SQL}
SELECT p.doc_a, p.doc_b,
       CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
       CAST(greatest(length(da.text), length(db.text)) AS BIGINT) AS max_len,
       CAST(levenshtein(da.text, db.text) AS DOUBLE)
         / greatest(length(da.text), length(db.text)) AS rel_dist
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
""",
    tags=("dedup", "edit-distance", "verify"),
)
def d10_edit_distance_verify(
    spark: SparkSession, sf_dir: str, candidates: DataFrame | None = None
) -> DataFrame:
    """Edit-distance verification of LSH candidates: exact Levenshtein
    (integer DP, bit-identical across engines) computed ONLY on the
    candidate pairs — at 100 TB the O(len²) distance runs on thousands
    of candidate pairs, never the corpus square.

    ``candidates`` defaults to the CAPPED relation (d14): this operator
    BROADCASTS the melted pair list, so its hard bound is the candidate
    count — the uncapped graph (pass ``d3_minhash_lsh_pairs(..., uncapped=True)`` for
    oracle-parity studies) grows quadratically in dup-group width and
    measured 31.9x wall at a 30x duplicate-heavy corpus
    (SCALE_r07_x30); past ~8 GiB it is a broadcast-ceiling job failure,
    not a slowdown. With the cap the broadcast is bounded by the number
    of 2..MAX_BUCKET buckets — duplicate-density-proof.

    Join shape: pairs are melted to (doc_a, doc_b, doc_id) and broadcast
    against ONE streamed corpus scan, so matching rows are selected
    map-side; the corpus is never shuffled and never broadcast
    (plan-audited: no BroadcastExchange carries text). The only shuffle
    regroups the pair-scale match set (≤ 2 rows per candidate pair)
    back into (text_a, text_b) rows.
    """
    pairs = candidates if candidates is not None else d14_capped_lsh_pairs(
        spark, sf_dir
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    melted = pairs.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    # corpus streams; only rows whose doc_id appears in some pair survive
    matched = d.join(F.broadcast(melted), "doc_id")
    texts = matched.groupBy("doc_a", "doc_b").agg(
        F.max(F.when(F.col("doc_id") == F.col("doc_a"), F.col("text"))).alias(
            "text_a"
        ),
        F.max(F.when(F.col("doc_id") == F.col("doc_b"), F.col("text"))).alias(
            "text_b"
        ),
    )
    edit = F.levenshtein("text_a", "text_b").cast("bigint")
    max_len = F.greatest(F.length("text_a"), F.length("text_b")).cast("bigint")
    return texts.select(
        "doc_a",
        "doc_b",
        edit.alias("edit_dist"),
        max_len.alias("max_len"),
        (edit.cast("double") / max_len).alias("rel_dist"),
    )


@register(
    "d11_bag_dedup",
    oracle="""
WITH canon AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(regexp_split_to_array(text, '[ \\t\\n\\f\\r\\x0B]+')), ' '))
           AS bag_hash
  FROM documents
)
SELECT bag_hash,
       MIN(doc_id) AS rep_doc_id,
       COUNT(*) AS n_docs
FROM canon
GROUP BY bag_hash
""",
    tags=("dedup", "canonical", "bag"),
)
def d11_bag_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words dedup: canonicalize each document to its sorted
    token multiset and group on the canonical hash — catches duplicates
    that differ only in word order, which exact (d1/d2) misses and
    near-dup LSH (d3/d7) only finds probabilistically. Same scale shape
    as d2: the shuffle key is a 32-char hash, never the document."""
    d = load_table(spark, sf_dir, "documents")
    canon = F.md5(
        F.array_join(F.array_sort(F.split("text", r"[ \t\n\f\r\x0B]+")), " ")
    )
    return (
        d.select(canon.alias("bag_hash"), "doc_id")
        .groupBy("bag_hash")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "d12_url_canonical_dedup",
    oracle="""
WITH raw AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'https://' || UPPER(source) || '.Example.COM:443/' || lang
                       || '/doc/' || CAST(doc_id // 4 AS VARCHAR)
                       || '/?b=2&a=1'
           WHEN 1 THEN 'https://' || source || '.example.com/' || lang
                       || '/doc/' || CAST(doc_id // 4 AS VARCHAR) || '?a=1&b=2'
           WHEN 2 THEN 'https://' || source || '.EXAMPLE.com/' || lang
                       || '/doc/' || CAST(doc_id // 4 AS VARCHAR) || '/?a=1&b=2'
           ELSE 'https://' || source || '.example.com:443/' || lang
                       || '/doc/' || CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1'
         END AS url
  FROM documents
),
canon AS (
  SELECT doc_id, url,
         LOWER(regexp_replace(regexp_extract(url, '^https://([^/]+)', 1),
                              ':443$', '')) AS host,
         regexp_replace(regexp_extract(url, '^https://[^/]+(/[^?]*)', 1),
                        '/$', '') AS path,
         array_to_string(list_sort(regexp_split_to_array(
             regexp_extract(url, '\\?(.*)$', 1), '&')), '&') AS q
  FROM raw
)
SELECT 'https://' || host || path || '?' || q AS canonical_url,
       MIN(doc_id) AS rep_doc_id,
       COUNT(*) AS n_variants
FROM canon
GROUP BY 1
""",
    tags=("dedup", "url", "canonicalize"),
)
def d12_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL dedup after canonicalization — the crawl-pipeline operator:
    lowercase the host, strip the default port and trailing slash, sort
    the query parameters, then group identical canonical URLs (here the
    4 synthesized variants per logical document collapse to one). Pure
    string/array column expressions, one scan, and the dedup groupBy
    shuffles only the canonical URL + id."""
    d = load_table(spark, sf_dir, "documents")
    base = F.concat(
        F.lit("/"), "lang", F.lit("/doc/"),
        # integer div, NOT /: long/int promotes to double and loses
        # exactness above 2^53 (the io.py discipline); the oracle uses //
        F.expr("doc_id div 4").cast("string"),
    )
    variant = F.col("doc_id") % 4
    url = (
        F.when(variant == 0, F.concat(
            F.lit("https://"), F.upper("source"), F.lit(".Example.COM:443"),
            base, F.lit("/?b=2&a=1")))
        .when(variant == 1, F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com"),
            base, F.lit("?a=1&b=2")))
        .when(variant == 2, F.concat(
            F.lit("https://"), F.col("source"), F.lit(".EXAMPLE.com"),
            base, F.lit("/?a=1&b=2")))
        .otherwise(F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com:443"),
            base, F.lit("?b=2&a=1")))
    )
    raw = d.select("doc_id", url.alias("url"))
    host = F.lower(
        F.regexp_replace(F.regexp_extract("url", r"^https://([^/]+)", 1), r":443$", "")
    )
    path = F.regexp_replace(
        F.regexp_extract("url", r"^https://[^/]+(/[^?]*)", 1), r"/$", ""
    )
    q = F.array_join(
        F.array_sort(F.split(F.regexp_extract("url", r"\?(.*)$", 1), "&")), "&"
    )
    canonical = F.concat(F.lit("https://"), host, path, F.lit("?"), q)
    return raw.select("doc_id", canonical.alias("canonical_url")).groupBy(
        "canonical_url"
    ).agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count(F.lit(1)).alias("n_variants"),
    )


# d9's oracle CTE chain (CAPPED candidates — see d9's docstring); also
# composed by setops' s14_leakage_free_split, whose split assignment
# must ride the SAME dedup groups d9/d13 produce.
_D9_COMPONENTS_CTE = f"""
WITH RECURSIVE
{_CAPPED_PAIRS_SQL},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(v, u) AS (
  SELECT doc_id, doc_id FROM sigs
  UNION
  SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src
),
comp AS (
  SELECT v AS doc_id, MIN(u) AS component FROM reach GROUP BY v
)
"""


@register(
    "d13_canonical_selection",
    oracle=_D9_COMPONENTS_CTE
    + """,
ranked AS (
  SELECT c.component, c.doc_id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT component,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
       MAX(CASE WHEN rn = 1 THEN n_chars END) AS canonical_chars,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM ranked
GROUP BY component
""",
    tags=("dedup", "canonical"),
)
def d13_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: for every near-dup cluster (d9's
    connected components) keep the best member — longest text, doc_id as
    the deterministic tie-break — the final step that turns pairwise
    dedup into the surviving training corpus.

    Scale shape: the ranking window partitions by component (parallel
    across clusters; cluster sizes are near-dup group sizes, never the
    corpus); the per-cluster rollup partial-aggregates. Reuses d9's
    labels — and therefore d9's CAPPED candidate default (hot-bucket cap
    before pair expansion; the uncapped graph measured 19.6x wall at a
    30x duplicate-heavy corpus, SCALE_r07_x30) — so the expensive part
    is the component computation itself, bounded by candidate volume.
    """
    labels = d9_dedup_components(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # ONE partial-aggregating max instead of the former row_number
    # window + rollup (OPTIMIZATION r11, guide §2.3 "aggregate before
    # you shuffle"): max over (n_chars, -doc_id) structs is exactly the
    # window's rank-1 pick (longest text, lowest doc_id tie-break) —
    # lexicographic struct max — but it combines map-side, so the
    # component shuffle carries one candidate struct per partition
    # instead of every member row sorted per cluster.
    best = F.max(
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nd"))
    ).alias("s")
    return (
        labels.join(d, "doc_id")
        .groupBy("component")
        .agg(best, F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .select(
            "component",
            (-F.col("s.nd")).alias("canonical_doc"),
            F.col("s.n_chars").alias("canonical_chars"),
            "n_members",
        )
    )


@register(
    "d14_capped_lsh_pairs",
    oracle=f"""
WITH {_CAPPED_PAIRS_SQL}
SELECT doc_a, doc_b FROM pairs
""",
    tags=("dedup", "minhash", "lsh", "capped"),
)
def d14_capped_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d3 with the production bucket-size cap: LSH buckets larger than
    4 members are dropped WHOLESALE before pair expansion.

    Why this operator exists at 100 TB: candidate volume is sum over
    buckets of |bucket|² — one hot band key (boilerplate headers, empty
    strings, template pages) turns the "never all-pairs" guarantee into
    exactly an all-pairs blowup inside that bucket. Capping bounds the
    per-bucket work at MAX_BUCKET²; the dropped buckets are precisely
    the least informative band collisions (a band shared by thousands
    of documents carries no near-dup signal — standard practice in
    web-scale MinHash dedup). The cap is a filter on the SAME
    aggregation d3 already does, so the plan shape (one scan, one
    band-key shuffle) is unchanged.
    """
    return _pairs_of(
        _lsh_band_buckets(
            load_table(spark, sf_dir, "documents"), max_bucket=MAX_BUCKET
        )
    )


BLOOM_BITS = 1 << 16  # m: bloom bitmap width in bits (1024 x 64-bit words)
BLOOM_HASHES = 4  # k: hash functions per document


@register(
    "d15_bloom_incremental_dedup",
    oracle="""
SELECT b.doc_id, sha256(b.text) AS content_hash
FROM documents b
WHERE b.doc_id % 10 = 0
  AND NOT EXISTS (
    SELECT 1 FROM documents c
    WHERE c.doc_id % 10 <> 0 AND sha256(c.text) = sha256(b.text)
  )
""",
    tags=("dedup", "bloom", "incremental"),
)
def d15_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-corpus dedup through a DISTRIBUTED BLOOM
    FILTER built from DataFrame primitives: admit only new-batch docs
    whose content hash is not already in the corpus (doc_id % 10 splits
    the fixture into corpus / new batch).

    The production problem this models: each ingest batch must be
    deduped against a 100 TB corpus WITHOUT joining the corpus —
    re-shuffling 10^9 corpus hashes per small batch is the naive plan's
    cost. The bloom bitmap is the standard fix (same role as the
    RocksDB/bloom index in web-crawl dedup).

    Plan shape, stage by stage:
    1. Corpus -> k=4 bit positions per doc (xxhash64, JVM-side) ->
       (word, mask) -> groupBy(word).agg(bit_or(mask)). bit_or is
       commutative/associative so the partial aggregate is map-side;
       the shuffle carries at most tasks x 1024 rows. The RESULT is a
       fixed-size bitmap: m/64 = 1024 rows (8 KiB) no matter whether
       the corpus is 500 docs or 10^11 — the one genuinely
       constant-size broadcast in the dedup family.
    2. Batch docs probe the broadcast bitmap word-wise; bool_and over
       the k probes marks bloom-positives. Definite negatives (the vast
       majority of a fresh batch) are admitted map-side with NO join
       against corpus data at all.
    3. Bloom positives (true dups + ~fpp of the batch) are verified
       exactly: corpus hashes are SEMI-joined down to the candidate set
       (broadcast of candidate hashes — batch-scale by the incremental
       contract, never corpus-scale), then candidates ANTI-join the
       confirmed hash set. The corpus is scanned but never shuffled and
       never broadcast.

    Spark's own ``bloom_filter_agg`` is not exposed to SQL/DataFrames
    (internal to runtime join filters), so the bitmap is composed from
    explode + bit_or (``kinesis_spark.bloom``); ``might_contain``
    becomes a word-aligned mask test. False positives cost only a
    re-check in stage 3; false negatives are impossible (bit_or never
    loses a bit), which the exact oracle (plain anti-join) verifies
    end-to-end, and ``tests/test_sketches.py`` stresses with a
    deliberately undersized bitmap.
    """
    from kinesis_spark.bloom import bloom_dedup_batch

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.sha2("text", 256).alias("content_hash")
    )
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    return bloom_dedup_batch(
        corpus, batch, "content_hash", m_bits=BLOOM_BITS, k=BLOOM_HASHES
    )


# d16: mod-p content fingerprinting (Manber 1994 / Broder's "0 mod p"
# selection): keep the w-gram hashes ≡ 0 (mod FP_MOD); docs sharing
# several selected fingerprints contain near-identical token runs.
FP_WINDOW = 4  # tokens per fingerprint window
FP_MOD = 8  # keep ~1/8 of window hashes
FP_MIN_SHARED = 2  # pair survives with >= this many shared fingerprints


@register(
    "d16_fingerprint_overlap",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\f\\r\\x0B]+') AS ts FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(ts) - {FP_WINDOW - 2}),
                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])))
           AS gram
  FROM toks WHERE len(ts) >= {FP_WINDOW}
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS fp
    FROM grams
  ) WHERE fp % {FP_MOD} = 0
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {FP_MIN_SHARED}
""",
    tags=("dedup", "fingerprint", "substring"),
)
def d16_fingerprint_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-duplication candidates via mod-p fingerprinting (Manber's
    sif / Broder's "0 mod p" selection — the cheap approximation of
    suffix-array substring dedup a-la Lee et al.'s "Deduplicating
    Training Data Makes Language Models Better"): hash every
    4-token window, keep the ~1/8 of hashes that are 0 mod 8 (a
    content-defined, position-independent selection), and pair up
    documents sharing >= 2 selected fingerprints with the shared count
    as evidence mass.

    Unlike MinHash (d3, whole-doc set resemblance) this localizes:
    a long verbatim passage inside two otherwise-different documents
    still collides on every fingerprint the passage contains.

    Scale shape: fingerprints are a row-local transform (no window
    functions); candidate generation groups by the 8-byte fingerprint
    value and expands pairs WITHIN buckets only — the d3/d7 single-scan
    pattern, an equi-shuffle of (fp, doc_id), never all-pairs. A
    boilerplate fingerprint shared by a million docs would square there;
    production runs cap the bucket exactly as d14 does for LSH bands
    (drop or sample buckets past a width bound) — kept uncapped here so
    the oracle is exact.
    """
    tokd = _tokens_barrier(load_table(spark, sf_dir, "documents"), min_words=FP_WINDOW)
    grams = tokd.select(
        "doc_id",
        F.explode(_shingles_of(F.col("toks"), k=FP_WINDOW)).alias("gram"),
    )
    fp = F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("bigint")
    fps = (
        grams.select("doc_id", fp.alias("fp"))
        .filter(F.col("fp") % FP_MOD == 0)
        .distinct()
    )
    buckets = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    return (
        buckets.select(F.explode(_ordered_pairs(F.col("ds"))).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= FP_MIN_SHARED)
    )


@register(
    "d17_containment_overlap",
    oracle=f"""
WITH {_CAPPED_PAIRS_SQL},
sh AS (
  SELECT doc_id, {_SHINGLES2_SQL} AS shingles
  FROM documents
  WHERE len(regexp_split_to_array(text, '[ \\t\\n\\f\\r\\x0B]+')) >= 2
)
SELECT p.doc_a, p.doc_b,
       CAST(len(list_distinct(list_intersect(a.shingles, b.shingles))) AS BIGINT)
         AS n_inter,
       CAST(LEAST(len(a.shingles), len(b.shingles)) AS BIGINT) AS size_min,
       CAST(len(list_distinct(list_intersect(a.shingles, b.shingles))) AS DOUBLE)
         / LEAST(len(a.shingles), len(b.shingles)) AS containment
FROM pairs p
JOIN sh a ON a.doc_id = p.doc_a
JOIN sh b ON b.doc_id = p.doc_b
""",
    tags=("dedup", "containment", "lsh"),
)
def d17_containment_overlap(
    spark: SparkSession, sf_dir: str, candidates: DataFrame | None = None
) -> DataFrame:
    """Asymmetric CONTAINMENT verification of the LSH candidate pairs —
    the overlap coefficient |A∩B| / min(|A|, |B|) on word-2-gram shingle
    sets. Jaccard (d4) under-scores the quote-inclusion case (a short
    document embedded verbatim inside a long one dilutes the union);
    containment is the resemblance measure that catches it (Broder's
    containment, the MinHash companion statistic) and is what
    training-data pipelines use to drop subsumed documents rather than
    merely mutual near-twins.

    Plan shape: ``candidates`` defaults to the CAPPED banded LSH (d14 —
    hot buckets dropped before pair expansion, so candidate volume is
    duplicate-density-proof; pass ``d3_minhash_lsh_pairs(..., uncapped=True)`` for the
    uncapped study; pairs are assumed DISTINCT, d14's contract — a
    caller feeding duplicate pairs would see them collapse in the
    pair grouping). The corpus shingle relation is evaluated ONCE and
    joined against the broadcast pair-participant relation; the matched
    shingle arrays (candidate-scale, never corpus-scale) shuffle once
    keyed by pair. Counts are exact ints; the coefficient is one
    correctly rounded IEEE division — bit-identical cross-engine.

    At 100 TB the candidate list is the capped LSH output and the
    per-pair work is |A|+|B| — the verify stage stays proportional to
    candidate volume, not corpus². Production shrink: hash shingles to
    8-byte ints before the join (md5 strings kept here for oracle
    parity, same plan).
    """
    pairs = candidates if candidates is not None else d14_capped_lsh_pairs(
        spark, sf_dir
    )
    tokd = _tokens_barrier(load_table(spark, sf_dir, "documents"), min_words=2)
    sh = tokd.select("doc_id", _shingles_of(F.col("toks"), k=2).alias("shingles"))
    # ONE tokenize+shingle pass, not one per pair side: the former
    # pairs⋈sh_a⋈sh_b form streamed the corpus-scale shingle relation
    # through BOTH broadcast joins, i.e. evaluated the regex tokenize +
    # shingle build twice per run. Explode each pair into its two
    # participant ids, broadcast that (candidate-scale) relation into a
    # single join against sh, and reassemble the pair by grouping on
    # (doc_a, doc_b) — shingle arrays ship once, keyed by pair. A pair
    # whose side misses the min_words=2 gate collects < 2 members and is
    # dropped, exactly like the old inner joins. Measured: tie at sf0.1
    # (1.06 vs 1.06 s steady), −18% at the x30 duplicate-heavy corpus
    # (4.7–4.9 → 3.86 s; OPTIMIZATION_r12.md); output bit-identical at
    # sf0.1/x10/x30 via exceptAll, EXACT vs oracle at sf0.01.
    sides = pairs.select(
        "doc_a", "doc_b",
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
    )
    joined = sh.join(F.broadcast(sides), "doc_id").select(
        "doc_a", "doc_b",
        F.struct(
            (F.col("doc_id") == F.col("doc_b")).alias("is_b"), "shingles"
        ).alias("m"),
    )
    per = (
        joined.groupBy("doc_a", "doc_b")
        .agg(F.array_sort(F.collect_list("m")).alias("ms"))
        .filter(F.size("ms") == 2)
    )
    sh_a = F.element_at("ms", 1)["shingles"]
    sh_b = F.element_at("ms", 2)["shingles"]
    n_inter = F.size(F.array_intersect(sh_a, sh_b)).cast("bigint")
    size_min = F.least(F.size(sh_a), F.size(sh_b)).cast("bigint")
    return per.select(
        "doc_a",
        "doc_b",
        n_inter.alias("n_inter"),
        size_min.alias("size_min"),
        (n_inter.cast("double") / size_min).alias("containment"),
    )


# d18: duplicated-span excision (the REWRITE step after d16's candidate
# detection — Lee et al.'s "Deduplicating Training Data Makes Language
# Models Better" substring dedup, token-window granularity): any
# EX_WINDOW-token window occurring >= 2 times corpus-wide keeps its
# first occurrence (min doc_id, then min start) and every other
# occurrence's token span is cut from its document.
EX_WINDOW = 4


@register(
    "d18_dup_span_excision",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(text, '{WS_RE}') AS ts FROM documents
  WHERE len(regexp_split_to_array(text, '{WS_RE}')) >= {EX_WINDOW}
),
occ AS (
  SELECT doc_id, unnest(range(1, len(ts) - {EX_WINDOW - 2})) AS pos, ts
  FROM toks
),
occh AS (
  SELECT doc_id, pos,
         CAST(('0x' || substr(md5(ts[pos] || ' ' || ts[pos+1] || ' ' ||
                                  ts[pos+2] || ' ' || ts[pos+3]), 1, 15))
              AS BIGINT) AS h
  FROM occ
),
flags AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
    FROM occh)
  WHERE rn > 1
),
tok AS (
  SELECT doc_id, unnest(range(1, len(ts) + 1)) AS tpos, ts FROM toks
),
tokf AS (
  SELECT t.doc_id, t.tpos, t.ts[t.tpos] AS tok,
         CASE WHEN f.pos IS NULL THEN 0 ELSE 1 END AS flag
  FROM tok t LEFT JOIN flags f ON f.doc_id = t.doc_id AND f.pos = t.tpos
),
cov AS (
  SELECT doc_id, tpos, tok, flag,
         SUM(flag) OVER (PARTITION BY doc_id ORDER BY tpos
                         RANGE BETWEEN {EX_WINDOW - 1} PRECEDING
                               AND CURRENT ROW) AS c
  FROM tokf
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(flag) AS BIGINT) AS n_cut_starts,
       CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       md5(COALESCE(string_agg(CASE WHEN c = 0 THEN tok END, ' '
                               ORDER BY tpos), '')) AS clean_md5
FROM cov GROUP BY doc_id
""",
    tags=("dedup", "substring", "excision", "rewrite"),
)
def d18_dup_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span EXCISION — the rewrite stage of substring-level
    dedup (Lee et al.'s 2022 paper), where d16 only detects: every 4-token
    window occurring twice or more anywhere in the corpus keeps exactly
    its first occurrence (lexicographic min (doc_id, start)); every
    other occurrence's span is cut, and the cleaned document is
    rebuilt from the surviving tokens (clean_md5 pins the rebuilt BYTES
    against the oracle, not just counts — a off-by-one in span
    coverage or token order fails the hash).

    Pipeline: one posexplode to positional token rows (persisted — the
    repo's pinned-narrow-relation pattern: the rebuild join would
    otherwise re-derive the explode); 4-token window hashes via lead()
    over the doc window; ONE hash-keyed shuffle ranks occurrences and
    emits non-canonical starts; flags equi-join back onto token rows;
    a RANGE window (W-1 PRECEDING) turns start flags into span
    coverage; one doc aggregation rebuilds the text and the accounting.

    Scale shape: no all-pairs anywhere — the occurrence relation
    shuffles (h, doc_id, pos) once (16B rows after the gram is hashed
    and dropped); flags are dup-occurrence-sized; the rebuild is one
    doc_id-clustered join + window + aggregation. A boilerplate window
    shared by millions of docs makes ONE hot hash partition whose
    output is still one row per occurrence (rank + filter, no pair
    expansion) — the same bound d16 documents, without its bucket
    blowup. clean text grouping is bounded by document size.
    """
    # pinned: the gram branch and the rebuild join share it; registered
    # so the consumer can release it (kinesis_spark.pins)
    toks = pin_shared(positional_tokens(load_table(spark, sf_dir, "documents")))
    occs = window_hashes(toks)
    who = Window.partitionBy("h").orderBy("doc_id", "pos")
    # rn > 1 alone implies the window occurs >= 2 times — no count() pass
    flags = (
        occs.withColumn("rn", F.row_number().over(who))
        .filter(F.col("rn") > 1)
        .select("doc_id", F.col("pos").alias("tpos"), F.lit(1).alias("flag"))
    )
    return excision_report(toks, flags)


def positional_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, tpos, tok) rows for docs with >= EX_WINDOW tokens —
    the shared tokenization of the excision family (d18 global,
    prep_index.incremental_span_excision / p9 batch-vs-corpus). tpos is
    1-based so it matches the oracles' DuckDB list indexing."""
    tokd = _tokens_barrier(docs, min_words=EX_WINDOW)
    return tokd.select(
        "doc_id", F.posexplode("toks").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("tpos"), "tok")


def window_hashes(toks: DataFrame) -> DataFrame:
    """(doc_id, pos, h) — the 8-byte hash of each EX_WINDOW-token
    window, via lead() over the doc order (no second tokenize pass; the
    gram string is hashed and dropped before anything shuffles)."""
    wdoc = Window.partitionBy("doc_id").orderBy("tpos")
    gram = F.concat_ws(
        " ",
        F.col("tok"),
        *[F.lead("tok", j).over(wdoc) for j in range(1, EX_WINDOW)],
    )
    return (
        toks.select(
            "doc_id",
            F.col("tpos").alias("pos"),
            F.lead("tok", EX_WINDOW - 1).over(wdoc).alias("last"),
            gram.alias("gram"),
        )
        .filter(F.col("last").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
    )


def excision_report(toks: DataFrame, flags: DataFrame) -> DataFrame:
    """Cut every flagged window start's EX_WINDOW-token span and rebuild:
    flags (doc_id, tpos, flag=1) equi-join onto the token rows, a RANGE
    window turns starts into span coverage, one doc aggregation emits
    (n_tokens, n_cut_starts, n_removed, clean_md5)."""
    wdoc = Window.partitionBy("doc_id").orderBy("tpos")
    covered = toks.join(flags, ["doc_id", "tpos"], "left").withColumn(
        "c",
        F.sum(F.coalesce("flag", F.lit(0))).over(
            wdoc.rangeBetween(-(EX_WINDOW - 1), 0)
        ),
    )
    kept = F.when(
        F.col("c") == 0, F.struct(F.col("tpos"), F.col("tok"))
    )  # no otherwise: collect_list drops the null (removed) entries
    return covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.coalesce("flag", F.lit(0))).cast("bigint").alias("n_cut_starts"),
        F.sum(F.when(F.col("c") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda x: x["tok"]
                ),
                " ",
            )
        ).alias("clean_md5"),
    )


_D19_AGREE_SQL = " + ".join(
    f"CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END" for s in range(N_HASHES)
)


@register(
    "d19_signature_jaccard_estimate",
    oracle=f"""
WITH {_CAPPED_PAIRS_SQL}
SELECT p.doc_a, p.doc_b,
       CAST({_D19_AGREE_SQL} AS BIGINT) AS n_agree,
       CAST({_D19_AGREE_SQL} AS DOUBLE) / {N_HASHES} AS est_jaccard
FROM pairs p
JOIN sigs a ON a.doc_id = p.doc_a
JOIN sigs b ON b.doc_id = p.doc_b
""",
    tags=("dedup", "minhash", "estimate"),
)
def d19_signature_jaccard_estimate(
    spark: SparkSession, sf_dir: str, candidates: DataFrame | None = None
) -> DataFrame:
    """Signature-space Jaccard ESTIMATION — Broder's estimator: the
    fraction of the {n} MinHash components on which two documents agree
    is an unbiased estimate of their shingle-set Jaccard similarity.
    This is the verify step production pipelines actually run between
    LSH candidacy and any document fetch: thresholding on the estimate
    needs only the signatures, so NO document bytes move — unlike the
    exact verifiers (d4's shingle intersection, d10's Levenshtein,
    d17's containment) whose inputs are the texts themselves.

    ``candidates`` defaults to the capped relation (the family default,
    d9's docstring), derived from the SAME pinned signature relation the
    estimate join reads — one signature pass total; the estimate joins
    signatures onto the pair list by doc_id — two equi-shuffles carrying
    (doc_id, {n}x32-B hashes), bounded by candidate volume. The divisor {n} is a power of
    two, so est_jaccard = n_agree / {n} is exact in IEEE double and
    bit-identical cross-engine. At 100 TB the signatures come from a
    persisted index (the prep_index discipline: computed once at
    ingest, reused by every probe), making this a signature-store join
    with zero corpus scans.
    """
    sigs = pin_shared(_minhash_sigs(load_table(spark, sf_dir, "documents")))
    # ONE signature pass: the default capped candidates derive from the
    # SAME pinned relation the estimate join reads (Spark does not share
    # scans across plan branches — r7 plan-audit note; unshared, the
    # tokenize -> shingle -> 8-way min-hash stage would run twice)
    pairs = (
        candidates
        if candidates is not None
        else _pairs_of(_lsh_band_buckets(None, max_bucket=MAX_BUCKET, sigs=sigs))
    )
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(N_HASHES)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(N_HASHES)],
    )
    n_agree = None
    for s in range(N_HASHES):
        term = F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        n_agree = term if n_agree is None else n_agree + term
    n_agree = n_agree.cast("bigint")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_agree.alias("n_agree"),
            (n_agree.cast("double") / F.lit(N_HASHES)).alias("est_jaccard"),
        )
    )


if d19_signature_jaccard_estimate.__doc__:  # absent under python -OO
    d19_signature_jaccard_estimate.__doc__ = (
        d19_signature_jaccard_estimate.__doc__.format(n=N_HASHES)
    )


@register(
    "d20_capped_simhash_pairs",
    oracle=_SIM_CAPPED_PAIRS_ORACLE,
    tags=("dedup", "simhash", "lsh", "capped"),
)
def d20_capped_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d7 with the production bucket-size cap — the SimHash edition of
    d14's argument: a 15-bit band shared by more than SIM_MAX_BUCKET
    documents is a boilerplate collision carrying no near-dup signal,
    and its within-bucket pair expansion is exactly the quadratic
    blowup the 30x harness measured on the uncapped SimHash face
    (d7: 18.4x wall, SCALE_r07_x30 — output-driven, but unbounded
    under adversarial duplication). Dropping hot buckets wholesale
    BEFORE expansion bounds per-bucket work at SIM_MAX_BUCKET**2 while
    keeping every informative collision; the plan shape (one scan, one
    band shuffle) is d7's unchanged — the cap is a filter on the same
    bucket aggregation. Since r10 the cap IS d7's registered default
    (VERDICT r9 task 1); d20 remains as the named capped face whose
    green history spans r8+ and whose oracle text d7 now shares."""
    return d7_simhash_pairs(spark, sf_dir, max_bucket=SIM_MAX_BUCKET)


# ---- d21: LSH S-curve calibration ------------------------------------------

# Analytic band-collision probability at each Jaccard-bin midpoint:
# P(candidate | jaccard = s) = 1 - (1 - s^BAND_ROWS)^(N_HASHES/BAND_ROWS).
# Computed ONCE here in Python and embedded as the same literal doubles
# in both engines, so no cross-engine pow() is ever evaluated.
_D21_CURVE = [
    (
        b,
        (b + 0.5) / 10.0,
        1.0 - (1.0 - ((b + 0.5) / 10.0) ** BAND_ROWS) ** (N_HASHES // BAND_ROWS),
    )
    for b in range(10)
]

_D21_SUBSET = 200  # bounded all-pairs calibration sample: exact Jaccard on all pairs

_D21_CURVE_SQL = ", ".join(
    f"({b}, {mid!r}, {prob!r})" for b, mid, prob in _D21_CURVE
)


@register(
    "d21_lsh_calibration",
    oracle=f"""
WITH documents50 AS (
  SELECT * FROM documents WHERE doc_id < {_D21_SUBSET}
),
{sigs_bands_sql("documents50", MIN_WORDS_SQL)},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles
  FROM documents50
  WHERE len(regexp_split_to_array(text, '[ \\t\\n\\f\\r\\x0B]+')) >= 3
),
ap AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_distinct(list_intersect(a.shingles, b.shingles)))
              AS BIGINT) AS n_inter,
         CAST(len(a.shingles) + len(b.shingles)
              - len(list_distinct(list_intersect(a.shingles, b.shingles)))
              AS BIGINT) AS n_union
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
),
binned AS (
  SELECT ap.doc_a, ap.doc_b,
         LEAST(CAST(FLOOR((CAST(n_inter AS DOUBLE) / n_union) * 10.0)
                    AS BIGINT), 9) AS jac_bin,
         CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
  FROM ap LEFT JOIN cand c
    ON ap.doc_a = c.doc_a AND ap.doc_b = c.doc_b
),
agg AS (
  SELECT jac_bin,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(is_cand) AS BIGINT) AS n_candidates
  FROM binned GROUP BY jac_bin
),
curve(jac_bin, bin_mid, analytic_prob) AS (VALUES {_D21_CURVE_SQL})
SELECT a.jac_bin, CAST(c.bin_mid AS DOUBLE) AS bin_mid,
       a.n_pairs, a.n_candidates,
       CAST(a.n_candidates AS DOUBLE) / a.n_pairs AS candidate_rate,
       CAST(c.analytic_prob AS DOUBLE) AS analytic_prob
FROM agg a JOIN curve c ON a.jac_bin = c.jac_bin
""",
    tags=("dedup", "minhash", "lsh", "calibration", "evaluation"),
)
def d21_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-CURVE CALIBRATION — the measurement that justifies the
    banding parameters every near-dup query in this repo shares
    (MinHash {n} hashes, {r}-row bands): on a bounded subset with ALL
    exact pairwise Jaccards known (d4's discipline, doc_id <
    {subset}), bucket pairs into 0.1-wide Jaccard bins and compare the
    MEASURED candidate rate per bin against the analytic banding
    probability 1-(1-s^{r})^{bands} at the bin midpoint. A healthy
    curve hugs the analytic S; a gap at high Jaccard = missed near-dups
    (band too wide), a gap at low Jaccard = wasted verify work. The
    analytic curve is precomputed in Python and embedded as identical
    literals in both engines — no cross-engine pow().

    Scale shape: candidacy reuses the shared signature/banding pipeline
    (one definition with d3/d14); the all-pairs exact-Jaccard side is
    deliberately SUBSET-bounded — at 100 TB you calibrate on a sampled
    few thousand documents (all-pairs there is trivial), never the
    corpus, exactly like recall evaluation (sim18) runs on a query
    sample. Candidacy is a pairwise property of two signatures, so
    subset banding equals corpus banding restricted to the subset."""
    docs50 = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _D21_SUBSET
    )
    cand = _pairs_of(_lsh_band_buckets(docs50)).withColumn(
        "is_cand", F.lit(1)
    )
    tokd = _tokens_barrier(docs50, min_words=3)
    sh = tokd.select("doc_id", _shingles_of(F.col("toks")).alias("shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    n_inter = F.size(
        F.array_distinct(
            F.array_intersect(F.col("a.shingles"), F.col("b.shingles"))
        )
    ).cast("bigint")
    n_union = (
        F.size(F.col("a.shingles")) + F.size(F.col("b.shingles"))
    ).cast("bigint") - n_inter
    ap = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        n_inter.alias("n_inter"),
        n_union.alias("n_union"),
    )
    binned = ap.join(cand, ["doc_a", "doc_b"], "left").select(
        F.least(
            F.floor((F.col("n_inter").cast("double") / F.col("n_union")) * 10.0),
            F.lit(9),
        )
        .cast("bigint")
        .alias("jac_bin"),
        F.coalesce(F.col("is_cand"), F.lit(0)).alias("is_cand"),
    )
    agg = binned.groupBy("jac_bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("is_cand").cast("bigint").alias("n_candidates"),
    )
    curve = F.broadcast(
        spark.createDataFrame(
            _D21_CURVE, "jac_bin long, bin_mid double, analytic_prob double"
        )
    )
    return agg.join(curve, "jac_bin").select(
        "jac_bin",
        "bin_mid",
        "n_pairs",
        "n_candidates",
        (F.col("n_candidates").cast("double") / F.col("n_pairs")).alias(
            "candidate_rate"
        ),
        "analytic_prob",
    )


if d21_lsh_calibration.__doc__:  # absent under python -OO
    d21_lsh_calibration.__doc__ = d21_lsh_calibration.__doc__.format(
        n=N_HASHES, r=BAND_ROWS, bands=N_HASHES // BAND_ROWS, subset=_D21_SUBSET
    )


def _d22_oracle() -> str:
    from kinesis_spark.queries.textstats import CHUNK_STRIDE, CHUNK_TOKENS

    W, S = CHUNK_TOKENS, CHUNK_STRIDE
    return f"""
WITH base AS (
  SELECT doc_id, source, regexp_split_to_array(text, '{WS_RE}') AS toks
  FROM documents
),
spec AS (
  SELECT doc_id, source, toks,
         1 + GREATEST(
               0, (CAST(len(toks) AS BIGINT) - {W} + {S} - 1) // {S})
           AS n_chunks
  FROM base
),
chunks AS (
  SELECT doc_id, source, CAST(g.i AS BIGINT) AS chunk_idx,
         CAST(len(list_slice(toks, g.i * {S} + 1, g.i * {S} + {W}))
              AS BIGINT) AS n_chunk_tokens,
         md5(array_to_string(
               list_slice(toks, g.i * {S} + 1, g.i * {S} + {W}), ' '))
           AS chunk_hash
  FROM spec, UNNEST(generate_series(0, n_chunks - 1)) AS g(i)
),
ranked AS (
  SELECT chunks.*,
         ROW_NUMBER() OVER (PARTITION BY chunk_hash
                            ORDER BY doc_id, chunk_idx) AS occ
  FROM chunks
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_chunks,
       CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS dup_rate,
       CAST(SUM(n_chunk_tokens) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN occ > 1 THEN n_chunk_tokens ELSE 0 END) AS BIGINT)
         AS tokens_dropped,
       CAST(SUM(CASE WHEN occ > 1 THEN n_chunk_tokens ELSE 0 END) AS DOUBLE)
         / SUM(n_chunk_tokens) AS tokens_dropped_rate
FROM ranked GROUP BY source
"""


@register(
    "d22_chunk_dedup_report",
    oracle=_d22_oracle(),
    tags=("dedup", "chunking", "exact", "report"),
)
def d22_chunk_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-GRANULARITY exact dedup report — the reason pipelines chunk
    BEFORE deduplicating: whole-document hashing (d1/d2) misses the
    boilerplate a corpus shares at sub-document granularity, while t20's
    64-token windows expose it. Every chunk's md5 keys a global
    first-occurrence selection (order: doc_id, chunk_idx — the earliest
    occurrence is canonical, every later one is a duplicate), rolled up
    per source: chunk counts, duplicate rate, and the token volume the
    chunk-level dedup would drop — the number that prices whether
    chunk-dedup is worth its index for a given source mix.

    Composition: rides textstats.chunk_relation (t20's schedule) with
    ``text=False`` — chunk BODIES are never materialized, only the
    16-byte hash, the token count, and the attribution columns exist
    past the map stage.

    Determinism: counts/sums are exact BIGINTs; the two rates are
    single int-sum/int-sum double divisions; first-occurrence ranking
    is total-ordered by (doc_id, chunk_idx) within a hash, so ties are
    impossible.

    Scale shape: one corpus scan (map-only chunking, same plan as t20)
    -> ONE shuffle keyed by chunk_hash carrying (hash, ids, token
    count) — never text -> per-hash window (linear: one pass per
    group, no pair expansion at ANY duplication level, unlike banding
    candidates) -> a source-keyed partial aggregation of window flags.
    Duplicate-heavy corpora grow hash-group depth, not output or
    intermediate width."""
    from kinesis_spark.queries.textstats import chunk_relation

    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    chunks = chunk_relation(
        d.select("doc_id", "source", "text"), carry=("source",), text=False
    )
    w = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    ranked = chunks.withColumn("occ", F.row_number().over(w))
    dup = F.when(F.col("occ") > 1, F.lit(1)).otherwise(F.lit(0))
    dup_toks = F.when(F.col("occ") > 1, F.col("n_chunk_tokens")).otherwise(
        F.lit(0)
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(dup).cast("bigint").alias("dup_chunks"),
        (F.sum(dup).cast("double") / F.count(F.lit(1))).alias("dup_rate"),
        F.sum("n_chunk_tokens").cast("bigint").alias("tokens_total"),
        F.sum(dup_toks).cast("bigint").alias("tokens_dropped"),
        (F.sum(dup_toks).cast("double") / F.sum("n_chunk_tokens")).alias(
            "tokens_dropped_rate"
        ),
    )
