"""Text-analysis operators over ``documents`` (BASELINE north star:
token counting, quality scoring, language-ID heuristic, fingerprinting).

All pure column expressions (split/transform/aggregate) — no Python UDFs,
so the hot path is JVM-vectorized and scales linearly with documents;
every query is a narrow map + one aggregate at most.

Determinism: token/char counts are exact ints; ratios are single
int/int double divisions (correctly rounded, identical cross-engine);
weighted scores combine exact doubles with a fixed operation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_spark.io import ensure_min_partitions, load_table
from kinesis_spark.pins import pin
from kinesis_spark.queries import WS_CHARS, WS_RE, register

STOPWORDS = ("the", "a", "of", "and", "to", "in")


@register(
    "t1_token_stats",
    oracle=f"""
SELECT doc_id, lang, source,
       CAST(len(regexp_split_to_array(text, '{WS_RE}')) AS BIGINT) AS n_tokens,
       LENGTH(text) AS n_chars,
       CAST(len(list_distinct(regexp_split_to_array(text, '{WS_RE}'))) AS BIGINT)
         AS n_unique_tokens,
       CAST(list_sum(list_transform(regexp_split_to_array(text, '{WS_RE}'),
                                    t -> LENGTH(t))) AS BIGINT) AS total_token_chars
FROM documents
""",
    tags=("text", "tokens"),
)
def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + uniqueness profile per document.

    The token array is materialized once per document behind a Generate
    barrier (explode-of-one-element-array, same pattern as
    minhash._tokens_barrier): ``toks`` is referenced by three expressions,
    and HOF lambdas get no common-subexpression elimination, so inlining
    the split would re-run the regex 3x per doc."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    b = d.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
        F.explode(F.array(F.split("text", WS_RE))).alias("toks"),
    )
    return b.select(
        "doc_id",
        "lang",
        "source",
        F.size("toks").cast("bigint").alias("n_tokens"),
        "n_chars",
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_unique_tokens"),
        F.aggregate(
            F.transform("toks", lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x
        )
        .cast("bigint")
        .alias("total_token_chars"),
    )


@register(
    "t2_quality_score",
    oracle=f"""
WITH f AS (
  SELECT doc_id, lang,
         LENGTH(text) AS n_chars,
         CAST(len(regexp_split_to_array(text, '{WS_RE}')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(regexp_split_to_array(text, '{WS_RE}'),
                   t -> list_contains({list(STOPWORDS)!r}, t))) AS BIGINT) AS n_stop,
         LENGTH(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
         CAST(len(list_distinct(regexp_split_to_array(text, '{WS_RE}'))) AS BIGINT)
           AS n_unique
  FROM documents
)
SELECT doc_id, lang, n_chars, n_tokens,
       CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
       CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
       CAST(n_unique AS DOUBLE) / n_tokens AS ttr,
       0.4 * (CAST(n_stop AS DOUBLE) / n_tokens)
         + 0.4 * (CAST(n_unique AS DOUBLE) / n_tokens)
         + 0.2 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS quality_score
FROM f
""",
    tags=("text", "quality"),
)
def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: stopword density + type-token ratio +
    length prior (the usual pre-training corpus filters)."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    # Generate barrier: tokenize once per doc (toks is referenced 3x below;
    # see t1_token_stats / minhash._tokens_barrier).
    b = d.select(
        "doc_id",
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
        F.length(F.regexp_replace("text", r"[^.!?,;:]", ""))
        .cast("bigint")
        .alias("n_punct"),
        F.explode(F.array(F.split("text", WS_RE))).alias("toks"),
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size("toks").cast("bigint")
    n_stop = F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t))).cast(
        "bigint"
    )
    n_chars = F.col("n_chars")
    n_punct = F.col("n_punct")
    n_unique = F.size(F.array_distinct("toks")).cast("bigint")
    stop_ratio = n_stop.cast("double") / n_tokens
    punct_ratio = n_punct.cast("double") / n_chars
    ttr = n_unique.cast("double") / n_tokens
    return b.select(
        "doc_id",
        "lang",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        ttr.alias("ttr"),
        (
            F.lit(0.4) * stop_ratio
            + F.lit(0.4) * ttr
            + F.lit(0.2) * F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
        ).alias("quality_score"),
    )


@register(
    "t3_lang_id",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(regexp_split_to_array(text, '{WS_RE}'),
                   t -> list_contains(['the','a','of'], t))) AS BIGINT) AS s_en,
         CAST(len(list_filter(regexp_split_to_array(text, '{WS_RE}'),
                   t -> list_contains(['der','die','das','und'], t))) AS BIGINT) AS s_de,
         CAST(len(list_filter(regexp_split_to_array(text, '{WS_RE}'),
                   t -> list_contains(['el','los','las','y'], t))) AS BIGINT) AS s_es,
         CAST(len(list_filter(regexp_split_to_array(text, '{WS_RE}'),
                   t -> list_contains(['le','les','et','une'], t))) AS BIGINT) AS s_fr
  FROM documents
)
SELECT doc_id, lang, s_en, s_de, s_es, s_fr,
       CASE
         WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
         WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
         WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         WHEN s_fr > 0 THEN 'fr'
         ELSE 'unknown'
       END AS predicted_lang
FROM scored
""",
    tags=("text", "langid"),
)
def t3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID (n-gram-heuristic family). The fixture
    corpus shares one vocabulary across langs, so prediction quality is
    data-limited — the operator semantics (deterministic argmax with fixed
    tie order) are what's exercised."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    # Generate barrier: tokenize once per doc. The four marker_count HOF
    # lambdas below each reference toks; without the barrier the regex
    # split re-runs 4x per document (no CSE across HOF lambdas) — measured
    # 6.5 s -> ~1.5 s at sf0.1 (see minhash._tokens_barrier).
    b = d.select(
        "doc_id", "lang", F.explode(F.array(F.split("text", WS_RE))).alias("toks")
    )

    def marker_count(words: list[str]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter("toks", lambda t: F.array_contains(arr, t))).cast(
            "bigint"
        )

    s_en = marker_count(["the", "a", "of"])
    s_de = marker_count(["der", "die", "das", "und"])
    s_es = marker_count(["el", "los", "las", "y"])
    s_fr = marker_count(["le", "les", "et", "une"])
    pred = (
        F.when((s_en >= s_de) & (s_en >= s_es) & (s_en >= s_fr) & (s_en > 0), "en")
        .when((s_de >= s_es) & (s_de >= s_fr) & (s_de > 0), "de")
        .when((s_es >= s_fr) & (s_es > 0), "es")
        .when(s_fr > 0, "fr")
        .otherwise("unknown")
    )
    return b.select(
        "doc_id",
        "lang",
        s_en.alias("s_en"),
        s_de.alias("s_de"),
        s_es.alias("s_es"),
        s_fr.alias("s_fr"),
        pred.alias("predicted_lang"),
    )


@register(
    "t4_char_bigrams",
    oracle="""
SELECT bigram, COUNT(*) AS n
FROM (
  SELECT unnest(list_transform(range(1, LENGTH(text)),
                               i -> substring(text, CAST(i AS INT), 2))) AS bigram
  FROM documents
  WHERE LENGTH(text) >= 2
)
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
""",
    tags=("text", "ngram"),
)
def t4_char_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level character-bigram profile, top 20 (explode + count —
    partial aggregation collapses the per-partition bigram counts before
    the shuffle)."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents")).filter(F.length("text") >= 2)
    grams = F.transform(
        F.sequence(F.lit(1), F.length("text") - 1),
        lambda i: F.substring(F.col("text"), i, F.lit(2)),
    )
    return (
        d.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "t5_doc_fingerprint",
    oracle="""
SELECT doc_id,
       list_min(list_transform(range(1, LENGTH(text) - 6),
                               i -> md5(substring(text, CAST(i AS INT), 8))))
         AS fingerprint
FROM documents
WHERE LENGTH(text) >= 8
""",
    tags=("text", "fingerprint"),
)
def t5_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: min hash over all char-8-gram
    md5s (rolling-hash family, deterministic across engines)."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents")).filter(F.length("text") >= 8)
    grams = F.transform(
        F.sequence(F.lit(1), F.length("text") - 7),
        lambda i: F.md5(F.substring(F.col("text"), i, F.lit(8))),
    )
    return d.select("doc_id", F.array_min(grams).alias("fingerprint"))


@register(
    "t6_tfidf_top_terms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '{WS_RE}')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
         CAST(df.df AS BIGINT) AS df,
         CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))
           AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, rnk
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term) AS BIGINT) AS rnk
  FROM scored
)
WHERE rnk <= 3
""",
    tags=("text", "tfidf"),
)
def t6_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (linear idf = N/df — exact double
    ratio of integer counts, so it's bit-identical across engines,
    unlike log-idf whose libm varies).

    Scale shape: tf is a (doc, term) aggregation; df is derived FROM tf
    (tf has exactly one row per (doc, term), so counting tf rows per
    term IS the distinct-document frequency) — one tokenize/explode pass
    over the corpus, not two, and the second aggregate runs over the
    already-collapsed (doc, term) pairs. The tf-df join is un-hinted:
    vocabulary is much smaller than the corpus but still GROWS with it
    (Heaps' law), so the broadcast decision belongs to stats/AQE, not a
    static hint; per-doc top-k is a window partitioned by doc_id — no
    global sort, no driver collection."""
    raw = load_table(spark, sf_dir, "documents")
    n_docs = raw.count()  # metadata-only count; one job, no crossJoin
    d = ensure_min_partitions(raw)
    toks = d.select(
        "doc_id", F.explode(F.split("text", WS_RE)).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        F.col("tf").cast("bigint").alias("tf"),
        "df",
        (
            F.col("tf").cast("double")
            * (F.lit(float(n_docs)) / F.col("df").cast("double"))
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "t7_decontamination",
    oracle=f"""
WITH bench AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
),
bgrams AS (
  SELECT DISTINCT b.doc_id AS bench_id, g.gram
  FROM bench b,
       UNNEST(list_transform(
         range(1, len(regexp_split_to_array(b.text, '{WS_RE}')) - 2),
         i -> array_to_string(
           list_slice(regexp_split_to_array(b.text, '{WS_RE}'), i, i + 3), ' ')
       )) AS g(gram)
),
cgrams AS (
  SELECT DISTINCT c.doc_id AS corpus_id, g.gram
  FROM corpus c,
       UNNEST(list_transform(
         range(1, len(regexp_split_to_array(c.text, '{WS_RE}')) - 2),
         i -> array_to_string(
           list_slice(regexp_split_to_array(c.text, '{WS_RE}'), i, i + 3), ' ')
       )) AS g(gram)
)
SELECT c.corpus_id, b.bench_id, COUNT(*) AS n_shared_grams
FROM cgrams c JOIN bgrams b ON c.gram = b.gram
GROUP BY c.corpus_id, b.bench_id
""",
    tags=("text", "decontamination", "dedup"),
)
def t7_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word-4-gram with a held-out benchmark set (the train/test
    contamination check; 4 is the aggressive end of the standard 4-13
    gram widths — this corpus's vocabulary makes longer grams unique to
    true near-dups). Both sides explode to distinct grams; detection is
    an equi-join on the gram — at 100 TB, hash the gram (d2-style) so
    the shuffle carries 8-byte keys, and broadcast the benchmark grams
    (benchmarks are tiny relative to the corpus)."""
    d = load_table(spark, sf_dir, "documents")
    k = 4

    def grams_of(df, id_alias):
        tokd = ensure_min_partitions(df).select(
            F.col("doc_id").alias(id_alias),
            F.explode(F.array(F.split("text", WS_RE))).alias("toks"),
        ).filter(F.size("toks") >= k)
        g = F.transform(
            F.sequence(F.lit(1), F.size("toks") - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at("toks", i + j) for j in range(k)]
            ),
        )
        return tokd.select(id_alias, F.explode(g).alias("gram")).distinct()

    bench = grams_of(d.filter(F.col("doc_id") % 50 == 0), "bench_id")
    corpus = grams_of(d.filter(F.col("doc_id") % 50 != 0), "corpus_id")
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


@register(
    "t9_repetition_signals",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, LENGTH(text) AS n_chars,
         LENGTH(regexp_replace(text, '[A-Za-z0-9{WS_CHARS}]', '', 'g')) AS n_symbols,
         regexp_split_to_array(text, '{WS_RE}') AS t
  FROM documents
),
base AS (
  SELECT doc_id, n_chars, n_symbols,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform(t, x -> LENGTH(x))) AS BIGINT) AS tok_chars
  FROM toks
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM toks WHERE len(t) >= 2
),
gc AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
),
gstats AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_grams,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
         CAST(MAX(c) AS BIGINT) AS top_gram_count
  FROM gc GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       CAST(b.tok_chars AS DOUBLE) / b.n_tokens AS mean_word_len,
       CAST(b.n_symbols AS DOUBLE) / b.n_tokens AS symbol_word_ratio,
       g.n_grams, g.n_distinct_grams, g.top_gram_count,
       1.0 - CAST(g.n_distinct_grams AS DOUBLE) / g.n_grams AS dup_gram_frac,
       CAST(g.top_gram_count AS DOUBLE) / g.n_grams AS top_gram_frac
FROM base b JOIN gstats g USING (doc_id)
""",
    tags=("text", "quality", "repetition"),
)
def t9_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality signals per document: mean word
    length, symbol-to-word ratio, duplicate word-bigram fraction, and
    top-bigram fraction (the published pre-training repetition filters,
    adapted to single-line docs: word 2-grams stand in for lines).

    Scale shape: one scan; bigrams explode then partially aggregate on
    (doc_id, gram) before the shuffle, so the shuffle carries per-doc
    gram counts, not raw grams; the second aggregate is per-doc. Base
    stats ride through the explode behind the Generate barrier (first()
    per doc), so there is no second scan or self-join."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    b = d.select(
        "doc_id",
        # explicit whitespace chars, NOT \s: Java's \s includes U+000B,
        # RE2's excludes it — the one char the engines disagree on
        F.length(F.regexp_replace("text", rf"[A-Za-z0-9{WS_CHARS}]", ""))
        .cast("bigint")
        .alias("n_symbols"),
        F.explode(F.array(F.split("text", WS_RE))).alias("toks"),
    ).filter(F.size("toks") >= 2)
    grams = b.select(
        "doc_id",
        "n_symbols",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.aggregate(
            F.transform("toks", lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
        )
        .cast("bigint")
        .alias("tok_chars"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                ),
            )
        ).alias("gram"),
    )
    gc = grams.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("c"),
        F.first("n_tokens").alias("n_tokens"),
        F.first("tok_chars").alias("tok_chars"),
        F.first("n_symbols").alias("n_symbols"),
    )
    g = gc.groupBy("doc_id").agg(
        F.first("n_tokens").alias("n_tokens"),
        F.first("tok_chars").alias("tok_chars"),
        F.first("n_symbols").alias("n_symbols"),
        F.sum("c").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_grams"),
        F.max("c").cast("bigint").alias("top_gram_count"),
    )
    return g.select(
        "doc_id",
        "n_tokens",
        (F.col("tok_chars").cast("double") / F.col("n_tokens")).alias("mean_word_len"),
        (F.col("n_symbols").cast("double") / F.col("n_tokens")).alias(
            "symbol_word_ratio"
        ),
        "n_grams",
        "n_distinct_grams",
        "top_gram_count",
        (
            F.lit(1.0) - F.col("n_distinct_grams").cast("double") / F.col("n_grams")
        ).alias("dup_gram_frac"),
        (F.col("top_gram_count").cast("double") / F.col("n_grams")).alias(
            "top_gram_frac"
        ),
    )


# PII patterns shared by Spark (Java regex) and the DuckDB oracle (RE2):
# no lookaround, no backrefs, character classes only — identical semantics.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"555-[0-9]{4}"
_PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


@register(
    "t10_pii_redaction",
    oracle=f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or 555-0'
              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(
         regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'), '{_PII_IPV4}'))
         AS BIGINT) AS n_ips,
       regexp_replace(regexp_replace(regexp_replace(
         t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
            '{_PII_IPV4}', '<IP>', 'g'),
            '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
FROM aug
""",
    tags=("text", "pii", "redaction"),
)
def t10_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: detect and redact emails, phone-shaped numbers and
    IPv4 literals. The fixture corpus contains no organic PII, so each doc
    is first augmented with a deterministic doc_id-derived contact line
    (same expression in both engines) — the redaction then has non-zero,
    verifiable work. IPs are counted AFTER email redaction (the email's
    host part would otherwise embed dotted digits at larger ids), and the
    replace order email -> ip -> phone is fixed in both engines.

    Scale shape: map-only regex pass, no shuffle; the standard corpus
    scrubbing stage before training-data export."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or 555-0"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit(" from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.1"),
        ).alias("t"),
    )
    no_email = F.regexp_replace("t", _PII_EMAIL, "<EMAIL>")
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_PII_EMAIL), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_PHONE), 0))
        .cast("bigint")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(no_email, F.lit(_PII_IPV4), 0))
        .cast("bigint")
        .alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(no_email, _PII_IPV4, "<IP>"), _PII_PHONE, "<PHONE>"
        ).alias("redacted"),
    )


# GPT-2-style pre-tokenizer pattern, restricted to constructs RE2 also
# supports (no lookahead) so the DuckDB oracle runs the IDENTICAL regex:
# contraction suffixes | space?-letters | space?-digits | space?-other | runs
# of whitespace. Verified bit-identical between Java regex and RE2 across
# the fixture corpus (0/500 count mismatches at sf0.01).
# whitespace spelled as an explicit class (not \s): Java's \s includes
# U+000B vertical tab, RE2's excludes it — the one divergence between the
# engines' \s, removed so the shared pattern tokenizes identically
_BPE_PAT = (
    r"'(s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+"
    + rf"| ?[^{WS_CHARS}\p{{L}}\p{{N}}]+|[{WS_CHARS}]+"
)
_BPE_PAT_SQL = _BPE_PAT.replace("'", "''")


@register(
    "t8_bpe_token_count",
    oracle=f"""
SELECT doc_id,
       lang,
       CAST(len(regexp_extract_all(text, '{_BPE_PAT_SQL}')) AS BIGINT)
         AS n_bpe_tokens,
       CAST(len(regexp_split_to_array(text, '{WS_RE}')) AS BIGINT) AS n_ws_tokens,
       CAST(LENGTH(text) AS BIGINT) AS n_chars,
       LENGTH(text) / len(regexp_extract_all(text, '{_BPE_PAT_SQL}'))
         AS chars_per_bpe_token
FROM documents
""",
    tags=("text", "tokenize", "bpe"),
)
def t8_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex (the public
    GPT-2 pattern family) alongside the whitespace count — the
    chars-per-token ratio is the standard LLM-pipeline cost estimator.
    Pure JVM column expressions (regexp_extract_all + size), one scan,
    no shuffle at all: at 100 TB this is a map-only pass whose cost is
    the regex engine, which is why the pattern avoids catastrophic
    alternation (each branch anchors on a disjoint first-char class).
    The ratio divides exact BIGINTs so both engines emit identical
    doubles."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), 0))
    return d.select(
        "doc_id",
        "lang",
        n_bpe.cast("bigint").alias("n_bpe_tokens"),
        F.size(F.split("text", WS_RE)).cast("bigint").alias("n_ws_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        (F.length("text") / n_bpe).alias("chars_per_bpe_token"),
    )


@register(
    "t11_bigram_lm_score",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(text, '{WS_RE}') AS ts FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts)),
                i -> struct_pack(w1 := ts[i], w2 := ts[i + 1])),
                recursive := true)
  FROM toks
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w1) AS vocab FROM bg),
terms AS (
  SELECT g.doc_id,
         CAST(ROUND(ln((c2.c2 + 1.0) / (c1.c1 + v.vocab)), 6)
              AS DECIMAL(18,6)) AS term
  FROM bg g JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(term) AS DOUBLE) AS sum_logprob,
       CAST(SUM(term) AS DOUBLE) / COUNT(*) AS avg_logprob
FROM terms
GROUP BY doc_id
""",
    tags=("text", "quality", "lm"),
)
def t11_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained bigram language-model score per document — the
    cheap statistical stand-in for model-based perplexity filtering: a
    doc whose token transitions are rare *in its own corpus* (boilerplate
    runs, mangled encodings, keyword stuffing) scores a low average
    log-probability. Laplace smoothing over the context vocabulary:
    P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V).

    Scale shape: bigrams come from a row-local array transform (no
    window, no per-doc shuffle); the model is ONE token-keyed
    aggregation of the bigram stream (c2, map-side partials shrink it
    to vocabulary size) — c1 and the vocab scalar fold out of c2's
    vocabulary-sized result, so the corpus tokenizes twice (model +
    scoring), not four times. Pinning the bigram stream to halve those
    two passes was MEASURED SLOWER at sf0.1 (replayed 1.98-2.53 s vs
    pinned 2.08-3.02 s, best-of-2 A/B, r9): caching the corpus-scale
    exploded pairs costs more than re-running the row-local split, so
    the replay stays until the tokenizer itself dominates (e.g. a UDF
    tokenizer). Scoring re-joins the stream to the model
    on token equi-keys. Head-token skew in the c1 join is the classic
    AQE-skew-split case. Nothing broadcasts with corpus cardinality —
    the only broadcast is the 1-row vocab scalar.

    Determinism: each ln() term is rounded to 6 dp then summed as exact
    DECIMAL(18,6) — order-independent across partitions and engines;
    the average divides the exact sum by an exact count."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    b = d.select(
        "doc_id", F.explode(F.array(F.split("text", WS_RE))).alias("ts")
    )
    # guard: F.sequence(1, 0) would count DOWN for 1-token docs (DuckDB's
    # range(1, 1) is empty) — make "no bigrams" explicit on both engines
    b = b.filter(F.size("ts") >= 2)
    bg = b.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda i: F.struct(
                    F.element_at("ts", i).alias("w1"),
                    F.element_at("ts", i + 1).alias("w2"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2")
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    # c1 and vocab fold out of the vocabulary-sized c2 — summing c2 per
    # w1 IS the context count, and counting c1 rows IS |{w1}| — so the
    # corpus-scale bigram explode feeds exactly one aggregation
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = c1.agg(F.count(F.lit(1)).alias("vocab"))
    term = F.round(
        F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("vocab"))), 6
    ).cast("decimal(18,6)")
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(v))
        .select("doc_id", term.alias("term"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        # UNROUNDED (g4/s16's tie lesson): the decimal sum's double image
        # and its /count quotient are already bit-identical cross-engine;
        # ROUND(sum/count, 6) would hit an exact half-µ tie for ~1/2n of
        # documents, where the two engines' rounding procedures diverge.
        F.sum("term").cast("double").alias("sum_logprob"),
        (F.sum("term").cast("double") / F.count(F.lit(1))).alias(
            "avg_logprob"
        ),
    )


# ---- t12: hashing-trick linear classifier ---------------------------------

HT_BUCKETS = 4096  # feature-hash space (fastText-style 2^k buckets)
HT_GRAM = 3  # character n-gram width


@register(
    "t12_hashed_linear_score",
    oracle=f"""
SELECT doc_id,
       CAST(LENGTH(text) - {HT_GRAM - 1} AS BIGINT) AS n_grams,
       CAST(list_sum(list_transform(range(1, LENGTH(text) - {HT_GRAM - 2}),
         i -> (CAST(('0x' || substr(md5('w#' || CAST(
                 CAST(('0x' || substr(md5(substring(text, CAST(i AS INT), {HT_GRAM})), 1, 15)) AS BIGINT)
                 % {HT_BUCKETS} AS VARCHAR)), 1, 15)) AS BIGINT) % 2001) - 1000))
         AS BIGINT) AS score_milli,
       CAST(CAST(list_sum(list_transform(range(1, LENGTH(text) - {HT_GRAM - 2}),
         i -> (CAST(('0x' || substr(md5('w#' || CAST(
                 CAST(('0x' || substr(md5(substring(text, CAST(i AS INT), {HT_GRAM})), 1, 15)) AS BIGINT)
                 % {HT_BUCKETS} AS VARCHAR)), 1, 15)) AS BIGINT) % 2001) - 1000))
         AS BIGINT) AS DOUBLE) / 1000.0 AS score,
       list_sum(list_transform(range(1, LENGTH(text) - {HT_GRAM - 2}),
         i -> (CAST(('0x' || substr(md5('w#' || CAST(
                 CAST(('0x' || substr(md5(substring(text, CAST(i AS INT), {HT_GRAM})), 1, 15)) AS BIGINT)
                 % {HT_BUCKETS} AS VARCHAR)), 1, 15)) AS BIGINT) % 2001) - 1000))
         >= 0 AS accept
FROM documents
WHERE LENGTH(text) >= {HT_GRAM}
""",
    tags=("text", "classifier", "hashing-trick"),
)
def t12_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear text scorer — the fastText-shaped quality/
    language filter every LLM ingest pipeline runs at full-corpus scale:
    character {HT_GRAM}-grams hash into {HT_BUCKETS} weight buckets
    (no vocabulary, no OOV problem) and the document score is the sum of
    its grams' weights. The weight table here is a deterministic
    pseudo-model (bucket -> md5-derived integer milli-weight in
    [-1, 1]); swapping in trained weights changes ONE expression and no
    plan shape.

    Scale shape — strictly map-only: the gram->bucket->weight->sum chain
    runs INSIDE one row via sequence/transform/aggregate (no explode, no
    shuffle, no weight-table join at all — the "table" is a pure hash
    function of the bucket id, the extreme end of the broadcast-a-model
    spectrum). Weights are INTEGER millis summed exactly, so the score
    is deterministic in any engine and the double rendering is one exact
    division at the end. A trained-weights variant would broadcast a
    {HT_BUCKETS}-row map instead — still corpus-scan x O(1) lookups.
    """
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))

    def h60(col):
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")

    grams = F.transform(
        F.sequence(F.lit(1), F.length("text") - (HT_GRAM - 1)),
        lambda i: F.substring(F.col("text"), i, HT_GRAM),
    )
    bucket = lambda g: h60(g) % HT_BUCKETS  # noqa: E731
    w_milli = lambda g: (
        h60(F.concat(F.lit("w#"), bucket(g).cast("string"))) % 2001
    ) - 1000  # noqa: E731
    score_milli = F.aggregate(
        grams, F.lit(0).cast("bigint"), lambda acc, g: acc + w_milli(g)
    )
    return d.filter(F.length("text") >= HT_GRAM).select(
        "doc_id",
        (F.length("text") - (HT_GRAM - 1)).cast("bigint").alias("n_grams"),
        score_milli.alias("score_milli"),
        (score_milli.cast("double") / 1000.0).alias("score"),
        (score_milli >= 0).alias("accept"),
    )


if t12_hashed_linear_score.__doc__:  # absent under python -OO
    t12_hashed_linear_score.__doc__ = t12_hashed_linear_score.__doc__.format(
        HT_GRAM=HT_GRAM, HT_BUCKETS=HT_BUCKETS
    )


BOILER_N = 5  # token n-gram width of a boilerplate phrase
BOILER_MIN_DOCS = 3  # distinct documents before a gram counts as boilerplate


@register(
    "t13_boilerplate_ngrams",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(text, '{WS_RE}') AS t FROM documents
),
grams AS (
  SELECT doc_id, i AS start, array_to_string(t[i:i+{BOILER_N - 1}], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - {BOILER_N - 2})) AS r(i)
  WHERE len(t) >= {BOILER_N}
),
boiler AS (
  SELECT gram FROM grams GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
),
hits AS (
  SELECT DISTINCT g.doc_id, g.start FROM grams g JOIN boiler b USING (gram)
),
tokrows AS (
  SELECT doc_id, i, t[i] AS tok
  FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)
),
kept AS (
  SELECT tr.doc_id, tr.i, tr.tok
  FROM tokrows tr
  WHERE NOT EXISTS (
    SELECT 1 FROM hits h
    WHERE h.doc_id = tr.doc_id
      AND h.start BETWEEN tr.i - {BOILER_N - 1} AND tr.i)
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY i) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(len(t.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(a.clean_text, '') AS clean_text
FROM toks t LEFT JOIN agg a USING (doc_id)
""",
    tags=("text", "boilerplate", "dedup", "training"),
)
def t13_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate phrase removal — the C4/RefinedWeb stage
    that strips navigation chrome, cookie banners, and license footers:
    a token {n}-gram that appears in >= {m} DISTINCT documents is
    boilerplate, and every token covered by a boilerplate gram is
    removed from the document body. Unlike t6 (which only *ranks* terms)
    this REWRITES the corpus: the output carries the cleaned text plus
    the removal accounting, so the stage composes with the dedup/pack
    pipeline downstream (boilerplate is the #1 source of spurious
    MinHash collisions between unrelated pages of one site).

    Scale shape: the tokenize map runs once per branch (gram counting,
    hit positions, rewrite) behind the t1 Generate barrier — three
    linear corpus scans, never a materialized token table (recompute
    beats caching a tokenized 100 TB corpus); gram extraction is a
    row-local transform + explode; the boilerplate
    set is a partial-agg (gram -> distinct-doc count) whose output is
    THRESHOLD-BOUNDED (only grams crossing {m} docs survive — at 100 TB
    this is the frequent-pattern tail, orders of magnitude smaller than
    the gram stream); hit positions shuffle (doc_id, start) ints only,
    never gram text or bodies; the rewrite joins the per-doc covered
    starts (pair-scale, aggregated to one array row per affected doc)
    back on doc_id — document bodies move through exactly ONE hash
    shuffle and are never broadcast. The covered-position test is a
    nested HOF (filter-with-index over exists) evaluated per row, O(doc
    tokens x doc hits), both doc-bounded.
    """
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    b = d.select(
        "doc_id", F.explode(F.array(F.split("text", WS_RE))).alias("toks")
    )
    n = F.size("toks")
    starts_seq = F.when(
        n >= BOILER_N, F.sequence(F.lit(1), n - (BOILER_N - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = b.select(
        "doc_id",
        F.explode(
            F.transform(
                starts_seq,
                lambda i: F.struct(
                    i.alias("start"),
                    F.concat_ws(" ", F.slice("toks", i, BOILER_N)).alias("gram"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.start").alias("start"), F.col("g.gram").alias("gram"))
    boiler = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= BOILER_MIN_DOCS)
        .select("gram")
    )
    covered = (
        grams.join(boiler, "gram")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("start")).alias("starts"))
    )
    # kept token at 0-based index i  <=>  no boilerplate gram starts in
    # [pos-N+1, pos] for 1-based pos = i+1
    kept = F.filter(
        "toks",
        lambda x, i: ~F.exists(
            "starts", lambda s: (s >= i - (BOILER_N - 2)) & (s <= i + 1)
        ),
    )
    out = (
        b.join(covered, "doc_id", "left")
        .withColumn("starts", F.coalesce("starts", F.array().cast("array<int>")))
        # Generate barrier: "kept" feeds two output columns and HOFs get
        # no common-subexpression elimination (same reason as t1's toks)
        .select("doc_id", "toks", F.explode(F.array(kept)).alias("kept"))
    )
    return out.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.size("toks") - F.size("kept")).cast("bigint").alias("n_removed"),
        F.array_join("kept", " ").alias("clean_text"),
    )


if t13_boilerplate_ngrams.__doc__:  # absent under python -OO
    t13_boilerplate_ngrams.__doc__ = t13_boilerplate_ngrams.__doc__.format(
        n=BOILER_N, m=BOILER_MIN_DOCS
    )


# ---- t14: BPE merge learning (vocabulary induction) ----------------------

BPE_MERGES = 4


def _bpe_oracle() -> str:
    its = []
    for t in range(1, BPE_MERGES + 1):
        its.append(f"""
p{t} AS MATERIALIZED (
  SELECT a[i] AS l, a[i + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS pc
  FROM (SELECT string_split(substr(w, 2, length(w) - 2), ')(') AS a, cnt
        FROM w{t - 1}),
       UNNEST(range(1, len(a))) AS u(i)
  GROUP BY 1, 2
),
b{t} AS MATERIALIZED (
  SELECT CAST({t} AS BIGINT) AS merge_rank, l, r, pc
  FROM p{t} ORDER BY pc DESC, l, r LIMIT 1
),
w{t} AS MATERIALIZED (
  SELECT replace(w, '(' || b.l || ')(' || b.r || ')',
                    '(' || b.l || b.r || ')') AS w,
         CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM w{t - 1}, b{t} b
  GROUP BY 1
  UNION ALL
  SELECT w, cnt FROM w{t - 1}
  WHERE NOT EXISTS (SELECT 1 FROM b{t})
)""")
    return f"""
WITH words AS MATERIALIZED (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
),
w0 AS MATERIALIZED (
  SELECT regexp_replace(word, '([a-z])', '(\\1)', 'g') AS w,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM words GROUP BY 1
),{",".join(its).lstrip(",")}
SELECT merge_rank, l AS left_sym, r AS right_sym, pc AS pair_count
FROM ({" UNION ALL ".join(f"SELECT * FROM b{t}" for t in range(1, BPE_MERGES + 1))})
"""


@register(
    "t14_bpe_merge_learn",
    oracle=_bpe_oracle(),
    tags=("text", "bpe", "tokenizer", "iterative"),
)
def t14_bpe_merge_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction — the first {M} merges learned from the
    corpus (the training half of the tokenizer whose inference half t8
    counts with). Classic Sennrich BPE at word granularity: lowercase
    alpha words weighted by occurrence count, each round counts adjacent
    symbol-pair frequencies, merges the most frequent pair everywhere
    (ties broken lexicographically), repeat. Output: one row per merge
    with its rank, the pair, and its frequency at selection time.

    Representation bridge: a word's symbol sequence is the string
    "(s1)(s2)...", so a merge is a LITERAL substring replace of
    "(l)(r)" with "(lr)" — no regex, no lookarounds (RE2 has none), and
    the leftmost non-overlapping scan both engines use IS the correct
    greedy BPE pass (a "(a)(a)(a)" run merges to "(aa)(a)").

    Iterative shape: the corpus is scanned ONCE to build the weighted
    distinct-word table (vocabulary-sized — bounded by natural-language
    word inventories, orders of magnitude below corpus rows at 100 TB);
    each round is a partial-agg pair count over that table, a one-row
    argmax, and a map-side merge with the single-row winner broadcast.
    State is pinned per round (pins.pin), so {M} merges = {M} short
    vocab-table shuffles, never a second corpus scan.
    """
    merges, _ = _bpe_learn(spark, sf_dir)
    if not merges:  # round-1 exhaustion: nothing was ever mergeable
        return spark.createDataFrame(
            [],
            "merge_rank bigint, left_sym string, right_sym string, "
            "pair_count bigint",
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out.select(
        "merge_rank",
        F.col("l").alias("left_sym"),
        F.col("r").alias("right_sym"),
        F.col("pc").alias("pair_count"),
    )


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """ONE definition of the Sennrich merge-learning loop shared by t14
    (which reports the merges) and t16 (which applies the final merged
    vocabulary back to the corpus). Returns (per-round one-row merge
    DataFrames, final weighted vocab table in the paren representation).
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("word")
    )
    wt = (
        words.groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(
            F.regexp_replace("word", "([a-z])", "($1)").alias("w"), "cnt"
        )
        .transform(pin)
    )
    merges = []
    for t in range(1, BPE_MERGES + 1):
        syms = wt.select(
            F.split(F.expr("substring(w, 2, length(w) - 2)"), r"\)\(").alias("a"),
            "cnt",
        ).filter(F.size("a") >= 2)
        pairs = (
            syms.select(
                F.explode(
                    F.arrays_zip(
                        F.slice("a", 1, F.size("a") - 1).alias("l"),
                        F.slice("a", 2, F.size("a") - 1).alias("r"),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").cast("bigint").alias("pc"))
        )
        best = pairs.agg(
            F.min(
                F.struct((-F.col("pc")).alias("nc"), F.col("l"), F.col("r"))
            ).alias("b")
        ).select(
            F.lit(t).cast("bigint").alias("merge_rank"),
            F.col("b.l").alias("l"),
            F.col("b.r").alias("r"),
            (-F.col("b.nc")).cast("bigint").alias("pc"),
        # a global agg over EMPTY pairs yields one all-NULL row, where
        # the oracle's `ORDER BY .. LIMIT 1` over an empty CTE yields
        # nothing — filter to a 0-or-1-row relation so an exhausted
        # vocabulary (every word fully merged before BPE_MERGES rounds)
        # behaves identically on both engines
        ).filter(F.col("l").isNotNull()).transform(pin)
        # vocabulary exhaustion: no pair left to merge. STOP, keeping
        # the last non-empty vocab — t16 then degrades to per-word
        # fully-merged token counts instead of silently dropping every
        # document from the encoding report (the 0-row `best` would
        # empty wt through the cross join). The oracle's w{t} carries
        # w{t-1} forward through its NOT EXISTS arm for the same rounds,
        # so both engines agree round by round. (pin is eager, so this
        # take(1) reads a materialized 0/1-row relation — no recompute.)
        if not best.take(1):
            break
        merges.append(best)
        wt = (
            wt.join(F.broadcast(best))
            .select(
                F.replace(
                    "w",
                    F.concat(F.lit("("), F.col("l"), F.lit(")("), F.col("r"), F.lit(")")),
                    F.concat(F.lit("("), F.col("l"), F.col("r"), F.lit(")")),
                ).alias("w"),
                "cnt",
            )
            .groupBy("w")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            .transform(pin)
        )
    return merges, wt


if t14_bpe_merge_learn.__doc__:  # absent under python -OO
    t14_bpe_merge_learn.__doc__ = t14_bpe_merge_learn.__doc__.format(M=BPE_MERGES)


def _bpe_apply_oracle() -> str:
    learn = _bpe_oracle()
    # reuse the learning chain's CTEs; the final vocab is w{M}
    with_clause = learn[learn.index("WITH") : learn.index("SELECT merge_rank")]
    return f"""
{with_clause.rstrip().rstrip(",")},
vocab AS MATERIALIZED (
  SELECT replace(substr(w, 2, length(w) - 2), ')(', '') AS word,
         CAST(len(string_split(substr(w, 2, length(w) - 2), ')(')) AS BIGINT)
           AS n_syms
  FROM w{BPE_MERGES}
),
dw AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
)
SELECT doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(v.n_syms) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(v.n_syms) AS DOUBLE) / COUNT(*) AS tokens_per_word
FROM dw JOIN vocab v USING (word)
GROUP BY doc_id
"""


@register(
    "t16_bpe_apply",
    oracle=_bpe_apply_oracle(),
    tags=("text", "bpe", "tokenizer", "encode"),
)
def t16_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING with the corpus-trained vocabulary — the inference
    half of t14's training half (t8 counts tokens with a fixed public
    regex; this one uses the merges the corpus itself induced, which is
    what an LLM pipeline runs to cost a corpus under ITS tokenizer):
    every document's per-word token count after applying the {M} learned
    merges, with the tokens-per-word ratio as the compression signal.

    The key scale property: merges are never applied per document. The
    learning loop's final state IS the encoded vocabulary (word ->
    symbol count), a vocabulary-sized relation (bounded by the language's
    word inventory, orders of magnitude below corpus rows at 100 TB), so
    encoding the corpus is one words-scan joined against that broadcast
    vocab — the standard trick: tokenize the DISTINCT words, join the
    counts back. No merge replay touches a document row.

    Determinism: symbol counts are exact ints; the ratio is one
    correctly-rounded IEEE division.
    """
    _, wt = _bpe_learn(spark, sf_dir)
    inner = F.expr("substring(w, 2, length(w) - 2)")
    vocab = wt.select(
        F.replace(inner, F.lit(")("), F.lit("")).alias("word"),
        F.size(F.split(inner, r"\)\(")).cast("bigint").alias("n_syms"),
    )
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("word"),
    )
    return (
        dw.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            (F.col("n_bpe_tokens").cast("double") / F.col("n_words")).alias(
                "tokens_per_word"
            ),
        )
    )


if t16_bpe_apply.__doc__:  # absent under python -OO
    t16_bpe_apply.__doc__ = t16_bpe_apply.__doc__.format(M=BPE_MERGES)


NOV_N = 5  # token n-gram width for the novelty scan


@register(
    "t15_ngram_novelty",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(text, '{WS_RE}') AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(array_to_string(t[i:i+{NOV_N - 1}], ' ')), 1, 15))
              AS BIGINT) AS h
  FROM toks, UNNEST(range(1, len(t) - {NOV_N - 2})) AS r(i)
  WHERE len(t) >= {NOV_N}
),
first_seen AS (
  SELECT h, MIN(doc_id) AS first_id FROM grams GROUP BY h
)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS novelty
FROM grams g JOIN first_seen f USING (h)
GROUP BY g.doc_id
""",
    tags=("text", "novelty", "dedup", "training"),
)
def t15_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scan — the memorization/redundancy profile a
    training-data pipeline runs before mixing a new crawl into the
    corpus: for each document, the fraction of its distinct word
    {n}-grams whose FIRST appearance (lowest doc_id — ingest order) is
    this document. A novelty near 0 means the document is assembled
    from text the corpus already contains (even when no single other
    document is a near-duplicate, which is why d3/d4 miss it); a
    mixture-weighting stage can downweight or drop such documents to
    reduce verbatim memorization (Lee et al., "Deduplicating Training
    Data Makes Language Models Better" — the n-gram-overlap view).

    Plan shape: grams are a row-local transform hashed to 8-byte ints
    before any shuffle (xxhash64 here, md5 in the oracle — legitimate:
    the hash carries only gram identity, never a surfaced value, so the
    engines need collision-freeness, not agreement). Stage 1 groups (h) → min(doc_id) — a
    partial-aggregable min whose map-side combine collapses each
    partition's duplicates before the exchange. Stage 2 re-joins the
    gram list to the first-seen relation on the same hash key (AQE
    reuses the exchange partitioning) and aggregates per doc. Two
    linear shuffles of fixed-width rows, no corpus-sized broadcast, no
    window over the whole corpus.

    At 100 TB this is exactly the suffix-array-free novelty
    approximation: the first-seen relation is gram-cardinality-sized but
    never materialized on one node, and an incremental run swaps
    min(doc_id) for a bloom/bucket lookup against the admitted corpus
    (d15's shape).
    """
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    b = d.select(
        "doc_id", F.explode(F.array(F.split("text", WS_RE))).alias("t")
    ).filter(F.size("t") >= NOV_N)
    gram_of = lambda i: F.concat_ws(" ", F.slice("t", i, NOV_N))  # noqa: E731
    grams = (
        b.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("t") - (NOV_N - 1)),
                        # xxhash64, NOT the oracle's md5: the hash never
                        # surfaces in the output (it only carries gram
                        # IDENTITY through the two shuffles), so each
                        # engine may use its cheapest collision-free
                        # 64-bit hash — this is the one gram-hashing
                        # site where the engines legitimately diverge
                        lambda i: F.xxhash64(gram_of(i)),
                    )
                )
            ).alias("h"),
        )
    )
    first = grams.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    return (
        grams.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("first_id") == F.col("doc_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_grams")).alias("novelty"),
        )
    )


if t15_ngram_novelty.__doc__:  # absent under python -OO
    t15_ngram_novelty.__doc__ = t15_ngram_novelty.__doc__.format(n=NOV_N)


def _t17_oracle() -> str:
    # compose t7's REGISTERED oracle verbatim (dq6's discipline): the
    # candidate prefilter and this exact verify can never disagree on
    # the gram definition
    from kinesis_spark.queries import REGISTRY

    t7 = REGISTRY["t7_decontamination"].oracle
    return f"""
WITH pairs AS ({t7})
SELECT p.corpus_id, p.bench_id, p.n_shared_grams,
       CAST(LENGTH(b.text) AS BIGINT) AS bench_chars,
       contains(c.text, b.text) AS contained
FROM pairs p
JOIN documents c ON c.doc_id = p.corpus_id
JOIN documents b ON b.doc_id = p.bench_id
"""


@register(
    "t17_exact_containment_decon",
    oracle=_t17_oracle(),
    tags=("text", "decontamination", "containment"),
)
def t17_exact_containment_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-match decontamination — the strict gate next to t7's
    n-gram overlap: does a corpus document contain a benchmark document
    VERBATIM as a substring (the copy-paste contamination that inflates
    eval scores most; GPT-3/PaLM-style dedup removes exactly these)?

    Spark-first shape: never |corpus| x |bench| substring scans — t7's
    gram join is the PREFILTER (a verbatim inclusion of a >= 4-token
    benchmark document necessarily shares its 4-grams, so the candidate
    set provably contains every true containment), and the exact
    `contains` verify runs only on candidate pairs, with document texts
    shipped per-pair through two equi-joins (Catalyst pushes the pair
    keys down as semi-join filters on both text fetches). The per-pair
    verify is a row-local JVM substring search. This is the same
    candidate-then-verify discipline as d10/d17, with t7 as the
    candidate stage; at 100 TB the gram prefilter hashes its shuffle
    keys (t7's docstring) and the verify cost stays candidate-bounded.
    Rows with contained=false are near-misses (shared grams but not
    verbatim) — the report a pipeline reviews before deciding drop vs
    keep."""
    from pyspark.sql.functions import length

    pairs = t7_decontamination(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    c = d.select(F.col("doc_id").alias("corpus_id"), F.col("text").alias("ctext"))
    b = d.select(
        F.col("doc_id").alias("bench_id"),
        F.col("text").alias("btext"),
        length("text").cast("bigint").alias("bench_chars"),
    )
    return (
        pairs.join(c, "corpus_id")
        .join(b, "bench_id")
        .select(
            "corpus_id",
            "bench_id",
            "n_shared_grams",
            "bench_chars",
            F.contains("ctext", F.col("btext")).alias("contained"),
        )
    )


@register(
    "t18_vocab_growth",
    oracle=f"""
WITH toks AS (
  SELECT source, doc_id, t.tok
  FROM documents, UNNEST(regexp_split_to_array(text, '{WS_RE}')) AS t(tok)
),
agg AS (
  SELECT source,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab
  FROM toks GROUP BY source
)
SELECT source, n_docs, n_tokens, vocab,
       CAST(vocab AS DOUBLE) / n_tokens AS ttr,
       ROUND(LN(CAST(vocab AS DOUBLE)), 6)
         / ROUND(LN(CAST(n_tokens AS DOUBLE)), 6) AS herdan_c
FROM agg
""",
    tags=("text", "vocabulary", "statistics"),
)
def t18_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source VOCABULARY GROWTH profile — the Heaps'-law corpus
    statistic a data curator reads before mixing sources: total tokens,
    distinct vocabulary, type-token ratio, and Herdan's C
    (ln V / ln N — the log-log slope estimate; C near 1 means the
    source keeps minting new types, i.e. noisy/unnormalized text,
    C well below 1 means a saturating vocabulary).

    Determinism: counts are exact; ttr is one int/int division; the
    log ratio rides the file-wide 6-dp ln bridge (both engines round
    their correctly-rounded-to-double ln to 6 dp before the division,
    so near-ulp ln differences cannot surface).

    Scale shape: one corpus scan, explode to (source, token), ONE
    partial-aggregated shuffle keyed by source with two count-distincts
    (Spark plans count_distinct as expand + two-phase agg — the
    distinct sets shuffle as bounded-length token strings and 8-byte
    ids, never document bodies). Output is source-count-sized."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "source", "doc_id", F.explode(F.split("text", WS_RE)).alias("tok")
    )
    agg = toks.groupBy("source").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.count_distinct("tok").cast("bigint").alias("vocab"),
    )
    ln6 = lambda c: F.round(F.log(c.cast("double")), 6)  # noqa: E731
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "vocab",
        (F.col("vocab").cast("double") / F.col("n_tokens")).alias("ttr"),
        (ln6(F.col("vocab")) / ln6(F.col("n_tokens"))).alias("herdan_c"),
    )


ZIPF_TOP = 30  # rank-frequency fit depth per language


@register(
    "t19_zipf_slope",
    oracle=f"""
WITH toks AS (
  SELECT lang, t.tok
  FROM documents, UNNEST(regexp_split_to_array(text, '{WS_RE}')) AS t(tok)
),
counts AS (
  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS freq
  FROM toks GROUP BY lang, tok
),
ranked AS (
  SELECT lang, tok, freq,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY freq DESC, tok) AS BIGINT) AS rnk
  FROM counts
),
top AS (SELECT * FROM ranked WHERE rnk <= {ZIPF_TOP}),
xy AS (
  SELECT lang,
         CAST(ROUND(LN(CAST(rnk AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
         CAST(ROUND(LN(CAST(freq AS DOUBLE)), 6) AS DECIMAL(12,6)) AS y
  FROM top
),
s AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_terms,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x * y AS DECIMAL(26,12))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(26,12))) AS sxx
  FROM xy GROUP BY lang
)
SELECT lang, n_terms,
       (n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         AS zipf_slope
FROM s
""",
    tags=("text", "statistics", "zipf"),
)
def t19_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language ZIPF FIT: the least-squares slope of ln(frequency)
    against ln(rank) over each language's top-{K} tokens — natural text
    sits near -1; a flat slope (toward 0) means templated/synthetic
    token salad, a steep one means a degenerate head (boilerplate) —
    one more corpus-health gauge next to t18's Heaps profile.

    Determinism: x/y are 6-dp-ln-bridge decimals, their products widen
    to DECIMAL(26,12), and all four sums are exact and
    order-independent; the cross-terms and the final division then run
    in DOUBLE on those identical exact inputs (decimal cross-products
    would overflow precision 38 and round engine-differently), so
    partial-aggregation order can never move a bit. Rank ties break on the token string in both engines.

    Scale shape: one corpus scan exploded to (lang, token), one
    partial-aggregated count shuffle, a lang-partitioned top-{K} window
    over the vocabulary-sized count relation, and a lang-keyed 4-sum
    aggregate over {K}-row groups — nothing wider than the vocabulary
    ever shuffles."""
    d = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    toks = d.select("lang", F.explode(F.split("text", WS_RE)).alias("tok"))
    counts = toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), F.asc("tok"))
    top = counts.withColumn(
        "rnk", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rnk") <= ZIPF_TOP)
    x = F.round(F.log(F.col("rnk").cast("double")), 6).cast("decimal(12,6)")
    y = F.round(F.log(F.col("freq").cast("double")), 6).cast("decimal(12,6)")
    xy = top.select("lang", x.alias("x"), y.alias("y"))
    s = xy.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(26,12)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(26,12)")).alias("sxx"),
    )
    # cross terms in DOUBLE over the exact decimal sums: decimal
    # multiplication here would overflow precision 38 and round
    # differently per engine; double ops on identical exact inputs are
    # IEEE-deterministic on both
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy_d, sxx_d = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    num = F.col("n_terms") * sxy_d - sx_d * sy_d
    den = F.col("n_terms") * sxx_d - sx_d * sx_d
    return s.select("lang", "n_terms", (num / den).alias("zipf_slope"))


if t19_zipf_slope.__doc__:  # absent under python -OO
    t19_zipf_slope.__doc__ = t19_zipf_slope.__doc__.format(K=ZIPF_TOP)

CHUNK_TOKENS = 64  # t20 window width (tokens per training chunk)
CHUNK_STRIDE = 48  # t20 stride (64 - 48 = 16 tokens of overlap)


@register(
    "t20_doc_chunking",
    oracle=f"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(text, '{WS_RE}') AS toks
  FROM documents
),
spec AS (
  SELECT doc_id, toks,
         1 + GREATEST(
               0, (CAST(len(toks) AS BIGINT) - {CHUNK_TOKENS}
                   + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}) AS n_chunks
  FROM base
),
chunks AS (
  SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_idx,
         list_slice(toks, g.i * {CHUNK_STRIDE} + 1,
                    g.i * {CHUNK_STRIDE} + {CHUNK_TOKENS}) AS ctoks
  FROM spec, UNNEST(generate_series(0, n_chunks - 1)) AS g(i)
)
SELECT doc_id, chunk_idx,
       CAST(len(ctoks) AS BIGINT) AS n_chunk_tokens,
       array_to_string(ctoks, ' ') AS chunk_text,
       md5(array_to_string(ctoks, ' ')) AS chunk_hash
FROM chunks
""",
    tags=("text", "chunking", "pretraining", "rag"),
)
def t20_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-WINDOW DOCUMENT CHUNKING — the step that turns a curated
    corpus into training sequences (or RAG index units): each document's
    whitespace-token stream is cut into windows of {W} tokens advancing
    by a stride of {S} ({O}-token overlap, so no boundary context is
    lost), and every chunk carries its md5 content hash so the d-family
    exact dedup composes directly on chunk granularity (cross-document
    boilerplate collapses to one hash group even when the parent
    documents differ elsewhere).

    Chunk schedule: offsets 0, {S}, 2*{S}, ... — the chunk count is
    1 + max(0, ceil((n_tokens - {W}) / {S})) in EXACT integer
    arithmetic ((a + b - 1) // b on both engines; floor division agrees
    on the negative short-document case because both floor toward
    -infinity and the max(0, .) clamp absorbs it), so a document
    shorter than one window still emits exactly one (possibly short)
    chunk and the final window is truncated, never padded. Both
    engines' 1-based inclusive array slices clamp identically at the
    token-stream tail.

    Determinism: tokenization is the file-wide WS_RE split (identical
    cross-engine, same as t1), slicing/joining are exact string ops,
    md5 is md5.

    Scale shape: map-only — split, a Generate (explode of the
    per-document offset sequence), slice, hash; NO shuffle, NO window,
    nothing driver-side, so it pipelines with the parquet scan and
    parallelism is the scan's. Output is O(corpus x {W}/{S}) rows by
    construction (the operator's contract, not an expansion bug);
    chunk bodies stream straight to the consumer without ever being
    exchange-partitioned."""
    return chunk_relation(
        ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    )


def chunk_relation(
    d: DataFrame, carry: tuple[str, ...] = (), text: bool = True
) -> DataFrame:
    """t20's chunk schedule as a reusable relation: one row per
    (doc_id, chunk_idx) with the chunk's token count, body (unless
    ``text=False`` — consumers that only need the hash, like d22, must
    not materialize bodies they immediately drop), and md5 content
    hash, plus any ``carry`` columns projected through from the input
    (e.g. ``source`` for attribution reports). Pure map — callers keep
    the no-shuffle property as long as they don't re-key on bodies."""
    toks = F.split("text", WS_RE)
    n = F.size(toks).cast("bigint")
    n_chunks = F.lit(1) + F.greatest(
        F.lit(0).cast("bigint"),
        F.floor(
            (n - F.lit(CHUNK_TOKENS) + F.lit(CHUNK_STRIDE - 1))
            / F.lit(CHUNK_STRIDE)
        ).cast("bigint"),
    )
    base = d.select(
        "doc_id",
        *carry,
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
            "chunk_idx"
        ),
    )
    ctoks = F.slice(
        F.col("toks"),
        (F.col("chunk_idx") * CHUNK_STRIDE + 1).cast("int"),
        CHUNK_TOKENS,
    )
    chunk_text = F.array_join(ctoks, " ")
    return base.select(
        "doc_id",
        *carry,
        "chunk_idx",
        F.size(ctoks).cast("bigint").alias("n_chunk_tokens"),
        *((chunk_text.alias("chunk_text"),) if text else ()),
        F.md5(chunk_text).alias("chunk_hash"),
    )


if t20_doc_chunking.__doc__:  # absent under python -OO
    t20_doc_chunking.__doc__ = t20_doc_chunking.__doc__.format(
        W=CHUNK_TOKENS, S=CHUNK_STRIDE, O=CHUNK_TOKENS - CHUNK_STRIDE
    )
