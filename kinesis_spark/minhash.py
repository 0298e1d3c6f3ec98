"""The MinHash/LSH near-duplicate decision, for Spark and for DuckDB.

Every near-dup consumer calls this module: the d-family dedup queries
(d3, d14, d19, d21 and the d9/d10/d13 users of d3), the prep pipelines
(p1, p3, p7's index, p8), the streaming near-dup and intake admission.
A change here re-decides all of them in lockstep; a copy elsewhere would
let their candidate sets silently diverge.

The decision: a document's tokens are its text split on ``WS_RE``; its
shingles are the DISTINCT word ``MINHASH_SHINGLE_K``-grams of those
tokens; its signature is, for each seed ``s < N_HASHES``, the minimum
over its shingles of ``md5("s#" || shingle)`` (column ``mh<s>``); its
band keys join ``BAND_ROWS`` adjacent signature columns with ``|``. Two
documents sharing a band key are near-dup candidates.

Barriers. The tokens and the shingles are each bound through an
explode-of-one-element-array, a Generate node that CollapseProject
cannot cross. Without the token barrier, ``element_at(split(text), i+j)``
inside ``transform`` re-runs the regex once per element access (HOF
lambdas get no subexpression elimination): ~160 splits/doc, ~7 s at
sf0.1 against ~1 s. Without the shingle barrier each of the
``N_HASHES`` ``array_min`` lambdas re-builds the shingle array: the bare
signature relation took 1.86 s against 1.30 s at sf0.1. The whole
signature is row-local, so it needs no Exchange and works unchanged on
streaming DataFrames.

Empty-shingle invariant. ``array_min`` over an EMPTY shingle array is
null, and null signatures would concatenate into one shared band key: a
false-positive mega-bucket. A document with at least
``MINHASH_SHINGLE_K`` tokens has at least one shingle, so every signed
document must pass a token gate of ``MINHASH_MIN_WORDS`` (asserted >=
the shingle width below). Ungated callers filter before signing; a
gated :func:`signatures` leaves the gated-out documents unsigned.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kinesis_spark.io import ensure_min_partitions
from kinesis_spark.queries import WS_RE

N_HASHES = 8  # minhash signature length
BAND_ROWS = 2  # rows per LSH band → 4 bands
MINHASH_SHINGLE_K = 3  # word-k-gram width of the minhash shingles
MINHASH_MIN_WORDS = 3  # token gate on the signature relation
# a retune of either constant trips this instead of silently minting a
# null-signature mega-bucket (module docstring)
assert MINHASH_MIN_WORDS >= MINHASH_SHINGLE_K

MH_COLS = [f"mh{s}" for s in range(N_HASHES)]
# a gated signatures() keeps its shingle column under this reserved name
# (it rides next to the caller's own columns): null marks an unsigned doc
SHINGLES = "__sh"


def _tokens_barrier(d: DataFrame, min_words: int | None = None) -> DataFrame:
    """doc_id + token array ``toks``, the regex split evaluated once per
    document (the token barrier, module docstring)."""
    out = ensure_min_partitions(d).select(
        "doc_id", F.explode(F.array(F.split("text", WS_RE))).alias("toks")
    )
    if min_words is not None:
        out = out.filter(F.size("toks") >= min_words)
    return out


def _shingles_of(toks, k: int = MINHASH_SHINGLE_K):
    """DISTINCT word-k-gram shingle array from a pre-tokenized array
    column. Deliberately unsorted: every consumer is order-insensitive
    (min-hash, sizes and intersect-sizes for Jaccard), so a per-document
    O(g log g) sort on the hottest path would buy nothing — array_distinct
    alone shrinks the volume and pins d4's set sizes."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(k)]
        ),
    )
    return F.array_distinct(grams)


def signatures(
    df: DataFrame,
    toks: str = "toks",
    keep: Sequence[str | Column] = ("doc_id",),
    gate: Column | None = None,
) -> DataFrame:
    """``keep`` (names or Columns, evaluated before the barrier) plus
    ``mh0..mh{N_HASHES-1}`` of the token-array column ``toks``, through
    one shingle barrier.

    Without ``gate`` every row is signed: the caller has already gated
    on ``MINHASH_MIN_WORDS`` tokens. With it, a row where it is false
    gets null ``mh`` columns and a null :data:`SHINGLES` column, which
    the output keeps for :func:`band_key_array` ``(gated=True)``."""
    sh = _shingles_of(F.col(toks))
    name = "shb"  # internal: the ungated output drops it
    if gate is not None:
        sh, name = F.when(gate, sh), SHINGLES
    shb = df.select(*keep, F.explode(F.array(sh)).alias(name))
    kept = shb.columns[:-1] + ([name] if gate is not None else [])
    return shb.select(
        *kept,
        *[
            F.array_min(
                F.transform(name, lambda s: F.md5(F.concat(F.lit(f"{seed}#"), s)))
            ).alias(f"mh{seed}")
            for seed in range(N_HASHES)
        ],
    )


def band_key_array(gated: bool = False) -> Column:
    """The LSH band-key array of a :func:`signatures` frame. Null for an
    unsigned doc: with ``gated``, where :data:`SHINGLES` is null. The
    guard sits on the shingle column, not on ``mh0``: each ``mh`` is
    then referenced once, so CollapseProject folds the keys into the
    signing Project instead of adding one."""
    keys = F.array(
        *[
            F.concat_ws("|", *MH_COLS[BAND_ROWS * b : BAND_ROWS * (b + 1)])
            for b in range(N_HASHES // BAND_ROWS)
        ]
    )
    return F.when(F.col(SHINGLES).isNotNull(), keys) if gated else keys


# ---- DuckDB twins (the oracles) --------------------------------------------

_SPLIT_SQL = f"regexp_split_to_array(text, '{WS_RE}')"
_SHINGLES_SQL = (
    f"list_sort(list_distinct(list_transform("
    f"range(1, len({_SPLIT_SQL}) - {MINHASH_SHINGLE_K - 2}), i -> "
    + " || ' ' || ".join(
        f"{_SPLIT_SQL}[i{f'+{j}' if j else ''}]" for j in range(MINHASH_SHINGLE_K)
    )
    + ")))"
)
# the Spark side's MINHASH_MIN_WORDS filter, for sigs_bands_sql's gate
MIN_WORDS_SQL = f"len({_SPLIT_SQL}) >= {MINHASH_MIN_WORDS}"
_SIGS_SQL = ", ".join(
    f"list_min(list_transform({_SHINGLES_SQL}, s -> md5('{seed}#' || s))) AS mh{seed}"
    for seed in range(N_HASHES)
)
_BAND_KEYS_SQL = "unnest([{}]) AS band_key".format(
    ", ".join(
        " || '|' || ".join(MH_COLS[BAND_ROWS * b : BAND_ROWS * (b + 1)])
        for b in range(N_HASHES // BAND_ROWS)
    )
)


def sigs_bands_sql(source: str, gate: str | None = None, prefix: str = "") -> str:
    """The ``{prefix}sigs`` (doc_id, mh*) and ``{prefix}bands`` (doc_id,
    band_key) CTE pair over relation ``source`` (doc_id, text), keeping
    the rows where the SQL predicate ``gate`` holds."""
    where = f"\n  WHERE {gate}" if gate else ""
    return f"""{prefix}sigs AS (
  SELECT doc_id,
         {_SIGS_SQL}
  FROM {source}{where}
),
{prefix}bands AS (
  SELECT doc_id,
         {_BAND_KEYS_SQL}
  FROM {prefix}sigs
)"""
