"""Multimodal-column queries: opaque binary payloads + typed metadata,
decode/frame-sample/feature-extract — the Spark surface of
``kinesis_spark.multimodal``.

The payloads are the UTF-8 bytes of ``documents.text`` (deterministic;
the fixtures carry no real media). The fixture corpus is pure ASCII, so
the DuckDB oracles replay byte-level semantics (slicing, md5, hex) over
VARCHAR exactly — verified: octet_length(encode(text)) == length(text)
for every row at every SF.

Reference parity: the reference treats payloads as opaque bytes end to
end (kinesis/kinesis.go:199,213); these queries are the analytics
extension of that model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_spark import multimodal as _DH
from kinesis_spark.io import ensure_min_partitions, load_table
from kinesis_spark.multimodal import (
    MODALITIES,
    decode_media,
    media_table,
    nibble_histogram,
    sample_frames,
)
from kinesis_spark.pins import pin_shared
from kinesis_spark.queries import register

# generated from MODALITIES so the oracle can never drift from
# media_table's Spark-side assignment (fixture doc_ids are >= 0, so
# DuckDB's sign-preserving % equals Spark's pmod here)
_MODALITY_SQL = "([{}])[doc_id % {} + 1]".format(
    ",".join(f"'{m}'" for m in MODALITIES), len(MODALITIES)
)


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 8-way, not defaultParallelism: the decode path is mapInPandas, and
    # per-partition Python worker + Arrow stream setup dominates past ~8
    # partitions at fixture scale (measured: 32-way 2.6 s, 8-way 0.5 s,
    # serial 0.3-2.1 s for the mm family). The floor only fires when the
    # scan has fewer partitions (single-file fixtures); real multi-file
    # tables keep their native split count.
    return media_table(
        ensure_min_partitions(load_table(spark, sf_dir, "documents"), 8)
    )


@register(
    "mm1_media_catalog",
    oracle=f"""
SELECT {_MODALITY_SQL} AS modality,
       COUNT(*) AS n_media,
       CAST(SUM(length(text)) AS BIGINT) AS total_bytes,
       CAST(MIN(length(text)) AS BIGINT) AS min_bytes,
       CAST(MAX(length(text)) AS BIGINT) AS max_bytes
FROM documents
GROUP BY {_MODALITY_SQL}
""",
    tags=("multimodal", "metadata"),
)
def mm1_media_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog stats over typed metadata only — payload bytes are never
    touched, so Catalyst prunes the binary column out of the scan."""
    return _media(spark, sf_dir).groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("n_bytes").alias("min_bytes"),
        F.max("n_bytes").alias("max_bytes"),
    )


@register(
    "mm2_decode_features",
    oracle=f"""
SELECT doc_id AS media_id,
       {_MODALITY_SQL} AS modality,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(ascii(substr(text, 1, 1)) + 1 AS BIGINT) AS width,
       CAST(CASE WHEN length(text) > 1 THEN ascii(substr(text, 2, 1))
                 ELSE 0 END + 1 AS BIGINT) AS height,
       CAST(length(text) // 64 + 1 AS BIGINT) AS n_frames,
       md5(text) AS checksum
FROM documents
""",
    tags=("multimodal", "decode", "pandas_udf"),
)
def mm2_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode stage over ``mapInPandas`` (deterministic header-parse
    fake; real codecs are stubbed — see kinesis_spark.multimodal). The
    oracle replays the fake byte-for-byte, proving the Arrow round-trip
    (binary in, typed features out) is lossless."""
    return decode_media(_media(spark, sf_dir), fake=True)


@register(
    "mm3_frame_sample",
    oracle=f"""
WITH m AS (
  SELECT doc_id AS media_id,
         {_MODALITY_SQL} AS modality,
         text, length(text) AS nb
  FROM documents
),
f AS (
  SELECT media_id, modality, text,
         unnest(range(0, (nb + 255) // 256)) AS frame_idx
  FROM m
)
SELECT media_id, modality, CAST(frame_idx AS BIGINT) AS frame_idx,
       md5(substr(text, CAST(frame_idx * 256 + 1 AS INT), 256)) AS frame_md5,
       CAST(length(substr(text, CAST(frame_idx * 256 + 1 AS INT), 256)) AS BIGINT)
         AS frame_bytes
FROM f
WHERE frame_idx % 4 = 0
""",
    tags=("multimodal", "frames"),
)
def mm3_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling: payload → 256-byte frames, keep every 4th —
    entirely JVM-side binary substring (no Python in the hot path); the
    1/4 byte reduction happens before any decoder would run."""
    frames = sample_frames(_media(spark, sf_dir), frame_bytes=256, every_k=4)
    return frames.select(
        "media_id",
        "modality",
        "frame_idx",
        F.md5("frame").alias("frame_md5"),
        F.octet_length("frame").cast("bigint").alias("frame_bytes"),
    )


_NIB_SQL = ", ".join(
    f"CAST(length(hx) - length(replace(hx, '{format(i, 'X')}', '')) AS BIGINT)"
    f" AS nib_{format(i, 'x')}"
    for i in range(16)
)


@register(
    "mm4_nibble_histogram",
    oracle=f"""
WITH h AS (
  SELECT doc_id AS media_id,
         {_MODALITY_SQL} AS modality,
         CAST(length(text) AS BIGINT) AS n_bytes,
         hex(encode(text)) AS hx
  FROM documents
)
SELECT media_id, modality, n_bytes, {_NIB_SQL}
FROM h
""",
    tags=("multimodal", "features"),
)
def mm4_nibble_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-content feature extraction without Python: 16-bin hex-nibble
    histogram per payload, all inside whole-stage codegen."""
    return nibble_histogram(_media(spark, sf_dir))


def _frame_energy_df(media: DataFrame, frame_bytes: int = 256) -> DataFrame:
    """(media_id, modality, frame_idx, energy, peak) per fixed-size
    frame, JVM-only — shared by mm5 (the profile itself), mm8 (scene
    segmentation over the energy sequence) and mm9 (fingerprint keys
    over the delta-sign sequence, at a finer 16-byte framing)."""
    frames = sample_frames(media, frame_bytes=frame_bytes, every_k=1)
    # Generate barrier: decode once per frame; without it the lambda's
    # expressions over decode(frame) re-decode per element (256x) —
    # same pitfall as minhash._tokens_barrier. 4.2 s -> 1.6 s at sf0.1.
    decoded = frames.select(
        "media_id", "modality", "frame_idx",
        F.explode(F.array(F.decode("frame", "UTF-8"))).alias("txt"),
    )
    # split('') + per-char ascii, NOT ascii(substring(txt, i, 1)):
    # UTF8String.substring walks code points from offset 0, so the
    # sequence-indexed form is O(frame_bytes^2) per frame — one split
    # pass is O(frame_bytes). Bit-identical (ascii of the i-th char
    # either way); measured 0.642 -> 0.363 s at sf0.1 on 256-B frames
    # (OPTIMIZATION_r12.md), and the win grows with frame size.
    codes = F.transform(F.split(F.col("txt"), ""), lambda c: F.ascii(c))
    energy = F.aggregate(codes, F.lit(0).cast("bigint"),
                         lambda acc, x: acc + x.cast("bigint"))
    peak = F.array_max(codes).cast("bigint")
    return decoded.select(
        "media_id", "modality", "frame_idx",
        energy.alias("energy"), peak.alias("peak"),
    )


@register(
    "mm5_frame_energy",
    oracle=f"""
WITH m AS (
  SELECT doc_id AS media_id,
         {_MODALITY_SQL} AS modality,
         text, length(text) AS nb
  FROM documents
),
f AS (
  SELECT media_id, modality,
         unnest(range(0, (nb + 255) // 256)) AS frame_idx,
         text
  FROM m
),
fr AS (
  SELECT media_id, modality, CAST(frame_idx AS BIGINT) AS frame_idx,
         substr(text, CAST(frame_idx * 256 + 1 AS INT), 256) AS frame
  FROM f
)
SELECT media_id, modality, frame_idx,
       CAST(list_sum(list_transform(range(1, length(frame) + 1),
                                    i -> ascii(substr(frame, CAST(i AS INT), 1))))
            AS BIGINT) AS energy,
       CAST(list_max(list_transform(range(1, length(frame) + 1),
                                    i -> ascii(substr(frame, CAST(i AS INT), 1))))
            AS BIGINT) AS peak
FROM fr
""",
    tags=("multimodal", "features", "audio"),
)
def mm5_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame energy profile (the audio-analysis shape: amplitude sum
    + peak per fixed-size frame), computed JVM-side over every frame's
    bytes — no Python in the loop. ASCII corpus ⇒ byte value == code
    point, so the oracle replays it over text."""
    return _frame_energy_df(_media(spark, sf_dir))


@register(
    "mm6_resize_pixels",
    oracle=f"""
WITH img AS (
  SELECT doc_id AS media_id, text, length(text) AS nb,
         ascii(substr(text, 1, 1)) + 1 AS w,
         CASE WHEN length(text) > 1 THEN ascii(substr(text, 2, 1)) ELSE 0 END + 1 AS h
  FROM documents
  WHERE {_MODALITY_SQL} = 'image'
),
px AS (
  SELECT media_id, text, nb, w, h, unnest(range(64)) AS i FROM img
),
mapped AS (
  SELECT media_id, text, nb, i // 8 AS y, i % 8 AS x,
         ((i // 8) * h // 8) * w + ((i % 8) * w // 8) AS src_idx
  FROM px
)
SELECT media_id,
       CAST(y AS BIGINT) AS y,
       CAST(x AS BIGINT) AS x,
       CAST(CASE WHEN src_idx < nb
                 THEN ascii(substr(text, CAST(src_idx + 1 AS INT), 1))
                 ELSE 0 END AS BIGINT) AS px_val
FROM mapped
""",
    tags=("multimodal", "resize", "pandas_udf"),
)
def mm6_resize_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-to-grid stage (the normalize-before-embed step of a
    multimodal pipeline) verified down to individual pixels: images run
    through the Arrow-batched ``resize_images`` fake (nearest-neighbor
    onto an 8x8 grid of the fake-decoded width x height — real PIL is
    container-stubbed, see kinesis_spark.multimodal), then the 64 output
    bytes are exploded to (y, x, value) rows that the oracle recomputes
    from first principles. A mismatch in batching, byte order, padding,
    or the sampling-grid integer math fails the hash.

    Scale shape: modality filter is JVM-side before Python; the Python
    stage emits fixed 64-byte rows (output size = #images x grid,
    independent of payload size); the explode is row-local — one scan,
    no shuffle anywhere."""
    from kinesis_spark.multimodal import resize_images

    resized = resize_images(_media(spark, sf_dir), out_w=8, out_h=8, fake=True)
    i = F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i")
    px = resized.select("media_id", "pixels", i)
    return px.select(
        "media_id",
        (F.col("i") / 8).cast("bigint").alias("y"),
        (F.col("i") % 8).cast("bigint").alias("x"),
        F.coalesce(
            F.ascii(F.substring("pixels", F.col("i") + 1, F.lit(1)).cast("string")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("px_val"),
    )


# mm7 dHash near-dup knobs: verify threshold (bits of 64) and the
# d14-style hot-bucket cap (buckets larger than this are dropped
# wholesale BEFORE pair expansion — both engines apply it identically).
MM7_HAMMING_MAX = 6
MM7_BUCKET_CAP = 32

# The oracle's grid/band SQL is generated at import time from the SAME
# (grid, band, variant) layout constants as multimodal.dhash_images, so
# the two assemblies cannot drift independently.
def _mm7_band_sql(b: int) -> str:
    terms = []
    for j in range(_DH.DHASH_BAND_BITS):
        i = b * _DH.DHASH_BAND_BITS + j          # bit index = row*8 + col
        r, c = divmod(i, _DH.DHASH_GRID_W - 1)
        cur = f"g[{r * _DH.DHASH_GRID_W + c + 1}]"
        nxt = f"g[{r * _DH.DHASH_GRID_W + c + 2}]"
        terms.append(f"(CASE WHEN {nxt} > {cur} THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


_MM7_CELLS = _DH.DHASH_GRID_W * _DH.DHASH_GRID_H
_MM7_BANDS_SQL = ",\n         ".join(
    f"CAST({_mm7_band_sql(b)} AS INT) AS h{b}" for b in range(_DH.DHASH_BANDS)
)
_MM7_HAMMING_SQL = " + ".join(
    f"bit_count(xor(a.h{b}, b.h{b}))" for b in range(_DH.DHASH_BANDS)
)


def _mm7_grid_sql(variant: str) -> str:
    """DuckDB twin of multimodal._dhash_grid_expr for one variant
    (Spark `div` ↔ DuckDB `//`; `ascii(substring(payload ...))` ↔
    `ascii(substr(text ...))` — the corpus is pure ASCII, see module
    docstring)."""
    n_expr, cell_tx, _min_bytes = _DH.DHASH_VARIANTS[variant]
    n_sql = n_expr.replace("n_bytes", "n").replace(" div ", " // ")
    x = f"ascii(substr(text, CAST((k * ({n_sql} - 1)) // {_MM7_CELLS - 1} AS INT) + 1, 1))"
    return (
        f"list_transform(range(0, {_MM7_CELLS}), k -> {cell_tx.format(x=x)})"
    )


_MM7_SIGS_SQL = "\n  UNION ALL\n".join(
    f"""  SELECT media_id, '{v}' AS variant, {_mm7_grid_sql(v)} AS g
  FROM img WHERE n >= {_DH.dhash_min_bytes(v)}"""
    for v in _DH.DHASH_VARIANTS
)

_MM7_HCOLS_SQL = ", ".join(f"h{b}" for b in range(_DH.DHASH_BANDS))
_MM7_BAND_CASE_SQL = (
    "CASE b.band_idx "
    + " ".join(f"WHEN {b} THEN h{b}" for b in range(_DH.DHASH_BANDS - 1))
    + f" ELSE h{_DH.DHASH_BANDS - 1} END"
)

_MM7_ORACLE = f"""
WITH img AS (
  SELECT doc_id AS media_id, text, length(text) AS n
  FROM documents
  WHERE {_MODALITY_SQL} = 'image'
),
grid AS (
{_MM7_SIGS_SQL}
),
sig AS (
  SELECT media_id, variant,
         {_MM7_BANDS_SQL}
  FROM grid
),
bands AS (
  SELECT media_id, variant, {_MM7_HCOLS_SQL}, b.band_idx,
         {_MM7_BAND_CASE_SQL} AS band_val
  FROM sig, (SELECT unnest(range({_DH.DHASH_BANDS})) AS band_idx) b
),
capped AS (
  SELECT * FROM (
    SELECT bands.*, COUNT(*) OVER (PARTITION BY band_idx, band_val) AS bn
    FROM bands
  ) WHERE bn BETWEEN 2 AND {MM7_BUCKET_CAP}
)
SELECT DISTINCT a.media_id AS media_a, a.variant AS variant_a,
       b.media_id AS media_b, b.variant AS variant_b,
       CAST({_MM7_HAMMING_SQL} AS BIGINT) AS hamming
FROM capped a JOIN capped b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND (a.media_id < b.media_id
          OR (a.media_id = b.media_id AND a.variant < b.variant))
WHERE {_MM7_HAMMING_SQL} <= {MM7_HAMMING_MAX}
"""


@register(
    "mm7_phash_neardup",
    oracle=_MM7_ORACLE,
    tags=("multimodal", "dedup", "lsh", "phash"),
)
def mm7_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup — the multimodal face of the
    dedup family (re-encodes, brightness/contrast shifts, thumbnails
    that byte-level hashes miss): 64-bit dHash per image payload
    (``multimodal.dhash_images``, JVM-only), banded into 4 x 16-bit LSH
    keys, candidates from a band equi-join with d14-style hot-bucket
    capping, verified by exact 64-bit Hamming distance.

    Run under the standard pHash evaluation protocol (the fixture
    corpus has no byte-level image near-dups, so recall is proven on
    injected transforms, exactly how perceptual hashes are validated):
    each image enters as ``orig`` plus a ``bright`` variant (+16 per
    grayscale cell — every payload byte differs, md5/sha dedup all
    miss it, but dHash's adjacent-cell comparisons are order-invariant
    so it MUST match at hamming 0) and a ``crop`` variant (first half —
    content lands at different grid fractions, so it must NOT match).

    Scale shape (same skeleton as d7, proven there at 10x): signatures
    are map-only over one scan; the band shuffle carries
    (media_id, variant, 4 ints) per row regardless of payload size;
    buckets above MM7_BUCKET_CAP are dropped wholesale BEFORE pair
    expansion, bounding the within-bucket blowup; the verify is
    row-local integer math on band ints already inside the pair. At
    100 TB nothing in the plan touches payload bytes after the
    signature scan."""
    from kinesis_spark.queries.dedup import _ordered_pairs

    media = _media(spark, sf_dir).filter(F.col("modality") == "image")
    sigs = _DH.dhash_images(media, variants=tuple(_DH.DHASH_VARIANTS))
    hcols = [f"h{b}" for b in range(_DH.DHASH_BANDS)]
    bands = sigs.select(
        "media_id",
        "variant",
        *hcols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.col(f"h{b}").alias("band_val"),
                    )
                    for b in range(_DH.DHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("media_id", "variant", *hcols, "band.band_idx", "band.band_val")
    # single-scan within-bucket expansion (d7's rationale: a band
    # self-join would run the signature scan twice); members carry the
    # band ints so the Hamming verify reads them straight out of the
    # pair, and the (media_id, variant)-leading struct sort gives the
    # same pair orientation as the oracle's lexicographic join.
    buckets = (
        bands.groupBy("band_idx", "band_val")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("media_id", "variant", *hcols))
            ).alias("ms")
        )
        .filter(F.size("ms").between(2, MM7_BUCKET_CAP))
    )

    def _pair_of(x, y):
        ham = None
        for b in range(_DH.DHASH_BANDS):
            t = F.bit_count(x[f"h{b}"].bitwiseXOR(y[f"h{b}"]))
            ham = t if ham is None else ham + t
        return F.struct(
            x["media_id"].alias("media_a"),
            x["variant"].alias("variant_a"),
            y["media_id"].alias("media_b"),
            y["variant"].alias("variant_b"),
            ham.cast("bigint").alias("hamming"),
        )

    pair_arr = _ordered_pairs(F.col("ms"), pair_of=_pair_of)
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.media_a", "p.variant_a", "p.media_b", "p.variant_b", "p.hamming")
        .filter(F.col("hamming") <= MM7_HAMMING_MAX)
        .distinct()
    )


@register(
    "mm7c_phash_recall",
    oracle=f"""
WITH mm7 AS ({_MM7_ORACLE}),
elig AS (
  SELECT variant, COUNT(*) AS n_eligible
  FROM documents, (SELECT unnest(['bright', 'crop']) AS variant) v
  WHERE {_MODALITY_SQL} = 'image'
    AND length(text) >= CASE variant
                          WHEN 'crop' THEN {_DH.dhash_min_bytes("crop")}
                          ELSE {_DH.dhash_min_bytes("bright")} END
  GROUP BY variant
),
found AS (
  SELECT variant_a AS variant,
         COUNT(*) AS n_matched,
         CAST(SUM(CASE WHEN hamming = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ham0
  FROM mm7
  WHERE media_a = media_b AND variant_b = 'orig'
        AND variant_a IN ('bright', 'crop')
  GROUP BY variant_a
)
SELECT e.variant,
       e.n_eligible,
       COALESCE(f.n_matched, 0) AS n_matched,
       COALESCE(f.n_ham0, 0) AS n_ham0,
       CAST(COALESCE(f.n_ham0, 0) AS DOUBLE) / e.n_eligible AS ham0_rate
FROM elig e LEFT JOIN found f USING (variant)
""",
    tags=("multimodal", "phash", "recall", "companion"),
)
def mm7c_phash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mm7 recall protocol as a driver-visible companion (VERDICT r7
    task 7): per injected transform, how many planted variants did the
    LSH + Hamming pipeline recover against their own original?

    ``bright`` is the order-preserving transform — every payload byte
    differs (so md5/sha dedup scores 0 here) but dHash must recover it
    at hamming 0, so its floor is ham0_rate = 1.0 on the never-clamping
    ASCII corpus *except* pairs lost to the MM7_BUCKET_CAP drop (a
    hot-bucket cap trades exactly this recall for bounded pair volume —
    the companion makes that trade measurable). ``crop`` is the
    destructive transform — content lands at different grid fractions —
    so its rate is the protocol's false-match gauge, expected ~0.
    tests/test_multimodal.py pins the floors; this query publishes the
    numbers through the driver's correctness gate.

    Scale shape: reuses mm7's pair output (one signature scan, capped
    band shuffle); eligibility is a metadata-only pruned scan (length,
    never payload bytes); both aggregates are tiny keyed rollups."""
    pairs = mm7_phash_neardup(spark, sf_dir)
    media = _media(spark, sf_dir).filter(F.col("modality") == "image")
    variants = ("bright", "crop")
    elig = (
        media.select(
            F.explode(
                F.array(
                    *[
                        F.when(
                            F.col("n_bytes") >= _DH.dhash_min_bytes(v), F.lit(v)
                        )
                        for v in variants
                    ]
                )
            ).alias("variant")
        )
        .filter(F.col("variant").isNotNull())
        .groupBy("variant")
        .agg(F.count(F.lit(1)).alias("n_eligible"))
    )
    zero = F.lit(0).cast("bigint")
    found = (
        pairs.filter(
            (F.col("media_a") == F.col("media_b"))
            & (F.col("variant_b") == "orig")
            & F.col("variant_a").isin(*variants)
        )
        .groupBy(F.col("variant_a").alias("variant"))
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum(F.when(F.col("hamming") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_ham0"),
        )
    )
    return elig.join(found, "variant", "left").select(
        "variant",
        "n_eligible",
        F.coalesce("n_matched", zero).alias("n_matched"),
        F.coalesce("n_ham0", zero).alias("n_ham0"),
        (F.coalesce("n_ham0", zero).cast("double") / F.col("n_eligible")).alias(
            "ham0_rate"
        ),
    )


# mm8 boundary rule: a frame starts a new scene when its energy moved by
# more than 1/MM8_DELTA_DIV of the previous frame's energy (exact
# integer cross-multiplication — no float threshold on either engine).
MM8_DELTA_DIV = 10


@register(
    "mm8_scene_segments",
    oracle=f"""
WITH m AS (
  SELECT doc_id AS media_id, text, length(text) AS nb
  FROM documents
  WHERE {_MODALITY_SQL} = 'video'
),
f AS (
  SELECT media_id, unnest(range(0, (nb + 255) // 256)) AS frame_idx, text
  FROM m
),
fr AS (
  SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
         substr(text, CAST(frame_idx * 256 + 1 AS INT), 256) AS frame
  FROM f
),
fe AS (
  SELECT media_id, frame_idx,
         CAST(list_sum(list_transform(range(1, length(frame) + 1),
                                      i -> ascii(substr(frame, CAST(i AS INT), 1))))
              AS BIGINT) AS energy
  FROM fr
),
b AS (
  SELECT media_id, frame_idx, energy,
         CASE WHEN lag(energy) OVER w IS NULL THEN 1
              WHEN {MM8_DELTA_DIV} * abs(energy - lag(energy) OVER w)
                   > lag(energy) OVER w THEN 1
              ELSE 0 END AS boundary
  FROM fe
  WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)
),
s AS (
  SELECT media_id, frame_idx, energy,
         SUM(boundary) OVER (PARTITION BY media_id ORDER BY frame_idx
                             ROWS UNBOUNDED PRECEDING) AS scene_id
  FROM b
)
SELECT media_id, CAST(scene_id AS BIGINT) AS scene_id,
       MIN(frame_idx) AS start_frame, MAX(frame_idx) AS end_frame,
       COUNT(*) AS n_frames, CAST(SUM(energy) AS BIGINT) AS scene_energy
FROM s GROUP BY media_id, scene_id
""",
    tags=("multimodal", "video", "window", "segmentation"),
)
def mm8_scene_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene segmentation from the per-frame energy sequence — the
    temporal-sampling primitive of a video training pipeline (scene-
    balanced frame sampling, shot-boundary stats, per-scene captioning
    budgets): a frame opens a new scene when its energy moves by more
    than 1/MM8_DELTA_DIV vs the previous frame (exact integer
    cross-multiplication), scene ids are the running boundary count, and
    each scene reports its frame span and total energy. With a real
    codec the energy column would come from decoded luma/PCM frames
    (mm5's stub note); the segmentation algebra is source-agnostic.

    Scale shape: frame explode and energy are row-local over one scan;
    the two windows and the scene aggregation all cluster on media_id,
    so the whole query is ONE narrow shuffle of (media_id, frame_idx,
    energy) rows — frame bytes never move; the scene groupBy reuses the
    window's hash partitioning (plan-audited)."""
    fe = _frame_energy_df(
        _media(spark, sf_dir).filter(F.col("modality") == "video")
    ).select("media_id", "frame_idx", "energy")
    from pyspark.sql import Window

    w = Window.partitionBy("media_id").orderBy("frame_idx")
    prev = F.lag("energy").over(w)
    boundary = (
        F.when(prev.isNull(), F.lit(1))
        .when(
            F.abs(F.col("energy") - prev) * MM8_DELTA_DIV > prev, F.lit(1)
        )
        .otherwise(F.lit(0))
    )
    scened = fe.withColumn("boundary", boundary).withColumn(
        "scene_id",
        F.sum("boundary")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    return scened.groupBy("media_id", "scene_id").agg(
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("energy").cast("bigint").alias("scene_energy"),
    )


# mm9 audio fingerprinting: 16-byte frames -> energy delta-sign bits ->
# 16-bit keys at every offset; a clip identifies its source by the
# OFFSET-HISTOGRAM vote (the Shazam alignment trick: residual key
# collisions scatter across offsets while a true match stacks them on
# one). The key width and the hot-key cap are the two scale levers,
# measured: at 8 bits the key space saturates on a duplicate-heavy
# corpus and the candidate join goes quadratic (91x wall at 30x data);
# at 16 bits + a d14-style bucket cap (keys shared by more media than
# MM9_KEY_CAP are dropped wholesale BEFORE pair expansion — a key that
# common identifies nothing, the IDF argument) the join is linear in
# true matches. At 100 TB the key widens again and the corpus key
# relation becomes a partitioned index like ann.py's cells; the
# alignment algebra is unchanged.
MM9_FRAME_BYTES = 16
MM9_KEY_BITS = 16
MM9_CLIP_KEYS = 8          # keys per clip => max votes per alignment
MM9_MIN_VOTES = 6          # alignment survives with >= this many
MM9_KEY_CAP = 256          # corpus occurrences per key before it is dropped


def _fingerprint_keys(
    spark: SparkSession, sf_dir: str, modality: str, persist: bool = False
) -> DataFrame:
    """The shared fingerprint-key relation of mm9/mm10: per 16-byte
    frame energies -> delta-sign bits -> MM9_KEY_BITS-bit key at every
    frame offset, with the d14-style hot-key cap applied BEFORE any join
    (a key shared more than MM9_KEY_CAP times identifies nothing and
    only feeds the quadratic candidate blowup — measured 91x wall at
    30x data without it). ``persist=True`` pins the relation for callers
    that consume it twice (mm9's clip filter + match join — without the
    pin each branch re-derives the frame/energy chain, a second
    documents scan, the d18/sim15 narrow-relation rule); mm10 consumes
    it once and skips the cache."""
    fe = _frame_energy_df(
        _media(spark, sf_dir).filter(F.col("modality") == modality),
        frame_bytes=MM9_FRAME_BYTES,
    ).select("media_id", F.col("frame_idx").alias("t"), "energy")
    from pyspark.sql import Window

    w = Window.partitionBy("media_id").orderBy("t")
    nxt = F.lead("energy").over(w)
    bits = fe.select(
        "media_id",
        "t",
        F.when(nxt > F.col("energy"), 1).otherwise(0).alias("bit"),
        nxt.isNull().alias("last"),
    ).filter(~F.col("last"))
    key = None
    for j in range(MM9_KEY_BITS):
        term = F.shiftleft(F.lead("bit", j).over(w), j)
        key = term if key is None else key + term
    keys = (
        bits.select(
            "media_id",
            "t",
            key.alias("key"),
            F.lead("bit", MM9_KEY_BITS - 1).over(w).alias("guard"),
        )
        .filter(F.col("guard").isNotNull())
        .select("media_id", "t", "key")
    )
    wkey = Window.partitionBy("key")
    capped = (
        keys.withColumn("kn", F.count(F.lit(1)).over(wkey))
        .filter(F.col("kn") <= MM9_KEY_CAP)
        .select("media_id", "t", "key")
    )
    return pin_shared(capped) if persist else capped


def _mm9_keys_cte(modality: str) -> str:
    """The capped fingerprint-key CTE chain (m -> f -> fe -> bits ->
    keys -> capped) shared by the mm9 and mm10 oracles — generated from
    the same MM9_* constants as the Spark-side _fingerprint_keys, so
    the two key assemblies cannot drift."""
    key_sum = " + ".join(
        f"(lead(bit, {j}) OVER w << {j})" for j in range(MM9_KEY_BITS)
    )
    return f"""m AS (
  SELECT doc_id AS media_id, text, length(text) AS nb
  FROM documents
  WHERE {_MODALITY_SQL} = '{modality}'
),
f AS (
  SELECT media_id,
         unnest(range(0, (nb + {MM9_FRAME_BYTES - 1}) // {MM9_FRAME_BYTES}))
           AS frame_idx,
         text
  FROM m
),
fe AS (
  SELECT media_id, CAST(frame_idx AS BIGINT) AS t,
         CAST(list_sum(list_transform(range(1, length(fr) + 1),
                                      i -> ascii(substr(fr, CAST(i AS INT), 1))))
              AS BIGINT) AS energy
  FROM (SELECT media_id, frame_idx,
               substr(text, CAST(frame_idx * {MM9_FRAME_BYTES} + 1 AS INT),
                      {MM9_FRAME_BYTES}) AS fr
        FROM f)
),
bits AS (
  SELECT media_id, t,
         CASE WHEN lead(energy) OVER w > energy THEN 1 ELSE 0 END AS bit,
         lead(energy) OVER w IS NULL AS last
  FROM fe WINDOW w AS (PARTITION BY media_id ORDER BY t)
),
keys AS (
  SELECT media_id, t,
         {key_sum} AS key
  FROM (SELECT media_id, t, bit FROM bits WHERE NOT last)
  WINDOW w AS (PARTITION BY media_id ORDER BY t)
  QUALIFY lead(bit, {MM9_KEY_BITS - 1}) OVER w IS NOT NULL
),
capped AS (
  SELECT * FROM (
    SELECT keys.*, COUNT(*) OVER (PARTITION BY key) AS kn FROM keys
  ) WHERE kn <= {MM9_KEY_CAP}
)"""


@register(
    "mm9_clip_fingerprint_match",
    oracle=f"""
WITH {_mm9_keys_cte("audio")},
clips AS (
  SELECT media_id AS clip_id, t - (media_id % 4 + 1) AS u, key
  FROM capped
  WHERE t BETWEEN media_id % 4 + 1 AND media_id % 4 + {MM9_CLIP_KEYS}
)
SELECT c.clip_id, k.media_id AS match_media,
       CAST(k.t - c.u AS BIGINT) AS offset,
       COUNT(*) AS votes
FROM clips c JOIN capped k ON c.key = k.key
GROUP BY c.clip_id, k.media_id, k.t - c.u
HAVING COUNT(*) >= {MM9_MIN_VOTES}
""",
    tags=("multimodal", "audio", "fingerprint", "alignment"),
)
def mm9_clip_fingerprint_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-clip identification — the subsequence-retrieval shape
    (which track contains this snippet): per MM9_FRAME_BYTES-byte frame
    energies, delta-sign bits, and an MM9_KEY_BITS-bit (16-bit, capped)
    fingerprint key at every frame offset; a clip (MM9_CLIP_KEYS
    consecutive KEYS of each sufficiently long audio payload — spanning
    MM9_CLIP_KEYS + MM9_KEY_BITS = 24 frames, since the key at t covers
    delta bits t..t+15 and bit p needs frames p and p+1 — derived
    in-query since the fixtures ship no external snippets) joins the
    corpus key relation and candidates are scored by the OFFSET
    HISTOGRAM — votes group on (clip, media, corpus_t − clip_u), so the
    true source stacks all MM9_CLIP_KEYS votes on one alignment while
    random 16-bit collisions scatter. Every clip must re-identify its
    source at offset = its clip start (asserted in tests); cross-media
    alignments above MM9_MIN_VOTES are shared-content findings.

    Scale shape: energies/bits/keys are one narrow media_id shuffle
    (windows over the frame spine — frame bytes never shuffle); the
    clip relation is a filtered view of the SAME key relation (no
    recompute); the match join is an equi-join on the key with the
    per-key fan-out bounded by key-space collision rates (at 100 TB
    the key widens and the corpus side becomes a partitioned index —
    the vote algebra is unchanged); votes partial-aggregate map-side."""
    keys = _fingerprint_keys(spark, sf_dir, "audio", persist=True)
    s0 = F.pmod(F.col("media_id"), F.lit(4)) + 1
    clips = keys.filter(
        (F.col("t") >= s0) & (F.col("t") <= s0 + (MM9_CLIP_KEYS - 1))
    ).select(
        F.col("media_id").alias("clip_id"),
        (F.col("t") - s0).alias("u"),
        "key",
    )
    matches = clips.join(keys, "key").select(
        "clip_id",
        F.col("media_id").alias("match_media"),
        (F.col("t") - F.col("u")).cast("bigint").alias("offset"),
    )
    return (
        matches.groupBy("clip_id", "match_media", "offset")
        .agg(F.count(F.lit(1)).alias("votes"))
        .filter(F.col("votes") >= MM9_MIN_VOTES)
    )


# mm10 segment-dedup knob: media pairs sharing this many key alignments
# at ONE consistent lag contain a common segment of >= MM10_MIN_ALIGNED
# + MM9_KEY_BITS frames (22 frames ≈ 350 shared bytes at 16-byte
# framing: a key at offset t spans delta bits t..t+15, and bit p needs
# frames p and p+1).
MM10_MIN_ALIGNED = 6


@register(
    "mm10_shared_segment_pairs",
    oracle=f"""
WITH {_mm9_keys_cte("video")}
SELECT a.media_id AS media_a, b.media_id AS media_b,
       CAST(b.t - a.t AS BIGINT) AS lag,
       COUNT(*) AS n_aligned
FROM capped a JOIN capped b
  ON a.key = b.key AND a.media_id < b.media_id
GROUP BY a.media_id, b.media_id, b.t - a.t
HAVING COUNT(*) >= {MM10_MIN_ALIGNED}
""",
    tags=("multimodal", "video", "dedup", "fingerprint", "alignment"),
)
def mm10_shared_segment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-media SEGMENT-level near-dup — which videos share any
    common segment (reused intros/outros, copied clips, re-posted
    footage), the dedup face of mm9's alignment machinery: every pair
    of media whose capped fingerprint keys align >= MM10_MIN_ALIGNED
    times at ONE consistent lag (b.t − a.t) contains a shared frame run
    — unlike whole-item dedup (mm7/d*), a 30-second shared intro inside
    two otherwise-unrelated videos still stacks its alignments.

    Scale shape: the d7 single-scan pattern on the shared capped key
    relation — keys group into buckets (hot keys already dropped by
    MM9_KEY_CAP, bounding the within-bucket expansion), ordered pairs
    expand WITHIN buckets only, and the lag vote partial-aggregates.
    Never all-pairs: candidates exist only where keys truly collide."""
    from kinesis_spark.queries.dedup import _ordered_pairs

    keys = _fingerprint_keys(spark, sf_dir, "video")
    buckets = (
        keys.groupBy("key")
        .agg(F.array_sort(F.collect_list(F.struct("media_id", "t"))).alias("ms"))
        .filter(F.size("ms") >= 2)
    )

    def _pair_of(x, y):
        return F.struct(
            x["media_id"].alias("media_a"),
            y["media_id"].alias("media_b"),
            (y["t"] - x["t"]).cast("bigint").alias("lag"),
        )

    pair_arr = _ordered_pairs(F.col("ms"), pair_of=_pair_of)
    pairs = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.media_a", "p.media_b", "p.lag")
        # ordered pairs sort by (media_id, t): equal-media entries are
        # within-media repeats (mm9's periodic-content case), not
        # cross-media shared segments
        .filter(F.col("media_a") != F.col("media_b"))
    )
    return (
        pairs.groupBy("media_a", "media_b", "lag")
        .agg(F.count(F.lit(1)).alias("n_aligned"))
        .filter(F.col("n_aligned") >= MM10_MIN_ALIGNED)
    )
