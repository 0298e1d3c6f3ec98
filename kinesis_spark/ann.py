"""Persisted IVF ANN index: build once, probe many — the serving shape
of `sim6_ivf_ann` (queries/similarity.py), which recomputes its index
per query run.

Layout on disk (all parquet):

    <index>/codebook/       (cell, cv double[]) — broadcast-sized (v0)
    <index>/codebook_v*/    rebuilt codebooks (one dir per version)
    <index>/codebook_log/   rename-CAS markers naming the live version
    <index>/cells/          (match_id, v double[]) partitioned by cell

The codebook is swapped ATOMICALLY: a rebuild writes its full
``codebook_v<N>/`` directory first and then commits an eight-digit
marker into ``codebook_log/`` with the txstore rename CAS; readers
resolve the newest marker (``codebook/`` when the log is empty — the
build-time v0). A crash mid-rebuild leaves the old codebook live and
an orphan directory the next publish reclaims — there is no window
where probes see a missing or partial codebook.

Because ``cells/`` is PARTITIONED BY cell, a probe reads only the
``nprobe`` matching directories — partition pruning does the cell
selection at the file-listing level (asserted in
tests/test_ann_index.py), which is exactly how an IVF probe should
touch ~nprobe/n_cells of a 100 TB corpus instead of scanning it.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_spark.pins import pin, scope
from kinesis_spark.queries.similarity import ivf_assign, ivf_codebook


def _write_layout(
    spark: SparkSession,
    index_dir: str,
    metadata_cols: tuple[str, ...],
    partition_metadata: str | None,
    transactional: bool = False,
) -> None:
    spark.createDataFrame(
        [
            (
                json.dumps(
                    {
                        "metadata_cols": list(metadata_cols),
                        "partition_metadata": partition_metadata,
                        "transactional": transactional,
                    }
                ),
            )
        ],
        "layout string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/layout")


def _read_layout(spark: SparkSession, index_dir: str) -> dict:
    try:
        row = spark.read.parquet(f"{index_dir}/layout").head()
        layout = json.loads(row["layout"])
        layout.setdefault("transactional", False)
        return layout
    except Exception:  # pre-layout index directories
        return {"metadata_cols": [], "partition_metadata": None, "transactional": False}


_CB_LOG = "codebook_log"


def _codebook_version(spark: SparkSession, index_dir: str) -> int:
    """Newest COMMITTED codebook version (0 = the build-time
    ``codebook/`` directory; the log holds one rename-CAS marker per
    rebuild). Only committed markers count — a fully-written
    ``codebook_v<N>/`` whose publisher crashed before the marker rename
    is invisible, which is the whole point of the swap protocol."""
    import re

    from kinesis_spark.txstore import _fs_list_names

    names = _fs_list_names(spark, f"{index_dir}/{_CB_LOG}")
    return max(
        (int(m.group(1)) for n in names if (m := re.fullmatch(r"(\d{8})\.json", n))),
        default=0,
    )


def codebook_path(spark: SparkSession, index_dir: str) -> str:
    v = _codebook_version(spark, index_dir)
    return f"{index_dir}/codebook" if v == 0 else f"{index_dir}/codebook_v{v:08d}"


def read_codebook(spark: SparkSession, index_dir: str) -> DataFrame:
    """The LIVE codebook — every probe/append/rebuild reads through
    this resolver so a half-written rebuild can never be served."""
    return spark.read.parquet(codebook_path(spark, index_dir))


def _publish_codebook(spark: SparkSession, index_dir: str, cb: DataFrame) -> str:
    """Atomic codebook swap (ADVICE r8): (a) write the full
    ``codebook_v<N+1>/`` directory, (b) commit its marker with the
    txstore rename CAS — one rename is the only mutation readers can
    observe, so probes see either the old codebook or the complete new
    one, never a partial/missing directory. The version before the
    previous one is reclaimed (an in-flight probe may still hold the
    immediately superseded path; two generations is the same grace the
    cells manifest gives)."""
    import json as _json

    from kinesis_spark.txstore import DEFAULT_ARBITER, _fs, _jpath

    v = _codebook_version(spark, index_dir) + 1
    path = f"{index_dir}/codebook_v{v:08d}"
    cb.write.mode("overwrite").parquet(path)
    DEFAULT_ARBITER.commit(
        spark,
        f"{index_dir}/{_CB_LOG}",
        f"{v:08d}.json",
        _json.dumps({"version": v, "path": path}),
    )
    stale = v - 2
    if stale >= 1:
        p = _jpath(spark, f"{index_dir}/codebook_v{stale:08d}")
        fs = _fs(spark, f"{index_dir}")
        if fs.exists(p):
            fs.delete(p, True)
    return path


def _swap_codebook(
    spark: SparkSession, index_dir: str, hot: list, child_cent: DataFrame
) -> None:
    """Replace the ``hot`` cells' centroids with ``child_cent`` and
    publish the result atomically. Refuses an empty rebuild with an
    explicit raise (not assert — must survive ``python -O``): an empty
    codebook published live would brick every probe."""
    cent = read_codebook(spark, index_dir)
    new_cb = (
        cent.filter(~F.col("cell").isin(list(hot)))
        .unionByName(child_cent)
        .transform(pin)
    )
    n_cb = new_cb.count()  # materialize through the pin before the swap
    if n_cb == 0:
        raise ValueError(
            f"rebalance produced an empty codebook for {index_dir}; "
            "refusing to publish"
        )
    _publish_codebook(spark, index_dir, new_cb)


def _read_cells(
    spark: SparkSession,
    index_dir: str,
    partition_filter: dict | None = None,
) -> DataFrame:
    """Cell scan, layout-dispatched: plain directory layout prunes with
    partition filters at file listing; the transactional layout prunes
    at the MANIFEST (txstore per-column partition_filter) before any
    listing. ``partition_filter``: {col: allowed values} — always
    includes 'cell'; a partition_metadata column may add a second key."""
    if _read_layout(spark, index_dir)["transactional"]:
        from kinesis_spark.txstore import tx_read

        return tx_read(
            spark, f"{index_dir}/cells", partition_filter=partition_filter
        )
    cells = spark.read.parquet(f"{index_dir}/cells")
    for col, vals in (partition_filter or {}).items():
        cells = cells.filter(F.col(col).isin(vals))
    return cells


def _cells_of(e: DataFrame, cent: DataFrame, metadata_cols: tuple[str, ...]) -> DataFrame:
    """crk==1 assignment rows with the metadata columns joined back on
    the unique vec_id (ivf_assign deliberately carries only the vector;
    the join is build-time-only, never on the probe path)."""
    assign = ivf_assign(e.select("vec_id", "v"), cent)
    cells = assign.filter(F.col("crk") == 1).select(
        F.col("vec_id").alias("match_id"), "v", "cell"
    )
    if metadata_cols:
        meta = e.select(F.col("vec_id").alias("match_id"), *metadata_cols)
        cells = cells.join(meta, "match_id")
    return cells


def build_ivf_index(
    embeddings: DataFrame,
    index_dir: str,
    metadata_cols: tuple[str, ...] = (),
    partition_metadata: str | None = None,
    transactional: bool = False,
) -> None:
    """Build and persist the index from (vec_id, label, embedding
    float[]) rows. One assignment pass; the codebook is written
    alongside so queries never touch the raw corpus table.

    ``metadata_cols`` (extra columns on ``embeddings``) are stored in
    the cell rows so probes can filter on them (sim13's tenant-scoped
    retrieval). A HIGH-selectivity filter column should additionally be
    named as ``partition_metadata``: the cells are then PARTITIONED BY
    (cell, <col>), so a metadata-scoped probe prunes its directories at
    file listing exactly like the cell id — the layout the sim13
    docstring promises at 100 TB. The layout choice is persisted next to
    the codebook so appends can never silently diverge from it.

    ``transactional=True`` stores the cells in a txstore root
    (write-audit-publish): index growth becomes an ATOMIC manifest swap
    — a crash mid-append can never leave probes seeing half a batch's
    cells — and probe pruning moves from the file listing to the
    manifest (per-column partition_filter, so a ``partition_metadata``
    index prunes on cell AND the metadata column exactly like the
    directory layout does)."""
    if partition_metadata is not None and partition_metadata not in metadata_cols:
        raise ValueError("partition_metadata must be one of metadata_cols")
    e = embeddings.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        "label",
        *[c for c in metadata_cols if c != "label"],
    )
    cent = ivf_codebook(e)
    cent.write.mode("overwrite").parquet(f"{index_dir}/codebook")
    _write_layout(
        embeddings.sparkSession,
        index_dir,
        metadata_cols,
        partition_metadata,
        transactional,
    )
    cells = _cells_of(e, cent, metadata_cols)
    parts = ["cell"] + ([partition_metadata] if partition_metadata else [])
    if transactional:
        from kinesis_spark.txstore import tx_init

        tx_init(
            embeddings.sparkSession,
            f"{index_dir}/cells",
            cells,
            partition_col=parts if len(parts) > 1 else "cell",
        )
        return
    cells.write.mode("overwrite").partitionBy(*parts).parquet(f"{index_dir}/cells")


@scope()
def append_to_ivf_index(
    spark: SparkSession, new_embeddings: DataFrame, index_dir: str
) -> int:
    """Incremental index maintenance: assign NEW vectors against the
    EXISTING codebook and append them to their cell partitions. At
    100 TB you never rebuild the index for a daily batch — the append
    cost is proportional to the batch, existing cell files stay
    byte-identical, and probes see the union immediately (partition
    pruning is unaffected: the new files land inside the same
    ``cell=<k>`` directories).

    Centroids deliberately do NOT move (standard serving practice —
    IVF lists drift slowly; rebuild on a cadence, not per batch).
    The metadata layout comes from the PERSISTED index config (written
    at build), so an append can never partition or project differently
    from the files already on disk. Returns the number of vectors
    appended."""
    layout = _read_layout(spark, index_dir)
    metadata_cols = tuple(layout["metadata_cols"])
    e = new_embeddings.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        "label",
        *[c for c in metadata_cols if c != "label"],
    )
    cent = read_codebook(spark, index_dir)
    batch = (
        _cells_of(e, cent, metadata_cols)
        # materialize once: count + write would otherwise each run the
        # full assignment join
        .transform(pin)
    )
    n = batch.count()
    if layout["transactional"]:
        # atomic index growth: the batch's cells become visible in one
        # manifest swap — probes mid-append see the old index complete
        from kinesis_spark.txstore import tx_append

        tx_append(spark, f"{index_dir}/cells", batch)
        return n
    parts = ["cell"] + (
        [layout["partition_metadata"]] if layout["partition_metadata"] else []
    )
    batch.write.mode("append").partitionBy(*parts).parquet(f"{index_dir}/cells")
    return n


def query_ivf_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    top_k: int = 5,
    n_probe: int = 2,
    where=None,
    match_metadata: tuple[str, ...] = (),
) -> DataFrame:
    """ANN top-k for (query_id, qv double[]) rows against a persisted
    index: rank cells per query against the broadcast codebook, read
    ONLY the probed cell partitions, rerank candidates by exact cosine.
    Result: (query_id, match_id, cos_sim, rank<=top_k), identical to
    sim6's contract.

    Filtered search (sim13's serving shape): ``where`` is a uniform
    Column predicate over stored metadata applied to the cell scan
    (a partition filter when it hits the ``partition_metadata`` column,
    a parquet row-group predicate otherwise); ``match_metadata`` names
    metadata columns that must EQUAL the query's same-named columns —
    per-query scoping that rides the candidate equi-join key, with the
    query set's distinct values pushed into the scan as a literal IN
    list so a partitioned metadata column prunes at file listing just
    like the probed cells. Widen ``n_probe`` to pay for selectivity."""
    cent = read_codebook(spark, index_dir)
    # ROUNDED squared distance, matching ivf_assign's build-side argmin
    # (the file-wide 6-dp fp bridge): probe ranking and cell ownership
    # must agree on near-tie centroids or a query can probe a cell its
    # true neighbors were not assigned to
    dist2 = F.round(
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        queries.crossJoin(F.broadcast(cent))
        .select("query_id", "qv", *match_metadata, "cell", dist2.alias("d2"))
        .withColumn("crk", F.row_number().over(w_probe))
        .filter(F.col("crk") <= n_probe)
        .select("query_id", "qv", *match_metadata, "cell")
        # materialize once: the probes plan (queries x codebook crossJoin
        # + window) feeds BOTH the probe-cell collect and the candidate
        # join below — query-set-scale, cheap to pin
        .transform(pin)
    )
    # the probed-cell filter must be a literal IN list so it prunes
    # partitions at file listing (manifest level for the transactional
    # layout); a join would read every cell directory. The same
    # query-set-scale collect covers each match_metadata column — when
    # it is the index's partition_metadata it prunes like the cell id,
    # otherwise it lands as a parquet row-group predicate.
    pf = {"cell": [r["cell"] for r in probes.select("cell").distinct().collect()]}
    meta_vals = {
        c: [r[c] for r in probes.select(c).distinct().collect()]
        for c in match_metadata
    }
    pmeta = _read_layout(spark, index_dir)["partition_metadata"]
    if pmeta in meta_vals:
        pf[pmeta] = meta_vals[pmeta]
    cells = _read_cells(spark, index_dir, pf)
    if where is not None:
        cells = cells.filter(where)
    for c, vals in meta_vals.items():
        cells = cells.filter(F.col(c).isin(vals))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    nq = F.sqrt(
        F.aggregate(F.transform("qv", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    nc = F.sqrt(
        F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    scored = (
        probes.join(cells, ["cell", *match_metadata])
        .filter(F.col("match_id") != F.col("query_id"))
        .select("query_id", "match_id", F.round(dot / (nq * nc), 6).alias("cos_sim"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rank") <= top_k)
    )


def ivf_index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-cell health of a persisted index: (cell, n_vectors, frac) —
    the signal that schedules the cadence rebuild the append path
    defers (append_to_ivf_index freezes centroids, so a drifting corpus
    concentrates new vectors into whatever cells are nearest TODAY's
    codebook). A cheap metadata-grade scan: cell is a partition column,
    so the aggregate reads footers + one grouping, never vectors."""
    cells = _read_cells(spark, index_dir).groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    total = F.sum("n_vectors").over(Window.partitionBy())
    return cells.select(
        "cell", "n_vectors", (F.col("n_vectors") / total).alias("frac")
    )


def ivf_imbalance(spark: SparkSession, index_dir: str) -> float:
    """max/mean cell occupancy: 1.0 = perfectly balanced lists; probing
    cost of the hottest cell grows with this factor (a probe reads whole
    cells), so serving stacks rebuild when it crosses a small threshold
    (~4 is a common rule of thumb)."""
    row = (
        ivf_index_stats(spark, index_dir)
        .agg(
            F.max("n_vectors").alias("mx"),
            (F.sum("n_vectors") / F.count(F.lit(1))).alias("mean"),
        )
        .head()
    )
    if row is None or not row["mean"]:
        return 0.0
    return float(row["mx"] / row["mean"])


def _delete_cell_dirs(spark: SparkSession, cells_dir: str, hot: list) -> None:
    """Remove the retired `cell=<h>` partition DIRECTORIES (plain
    layout; the transactional layout retires partitions in the manifest
    instead). Same Hadoop-FS discipline as erasure.py's emptied-dir
    removal."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    for h in hot:
        p = jvm.org.apache.hadoop.fs.Path(f"{cells_dir}/cell={h}")
        fs = p.getFileSystem(conf)
        if fs.exists(p):
            fs.delete(p, True)


@scope()
def rebalance_ivf_cells(
    spark: SparkSession,
    index_dir: str,
    max_cell_factor: float = 2.0,
) -> dict:
    """Split HOT cells — the cadence maintenance the append path defers
    (append_to_ivf_index freezes centroids, so a drifting corpus piles
    new vectors into whatever cells are nearest today's codebook, and a
    probe pays for whole cells; faiss et al. rebuild or split for the
    same reason).

    Every cell larger than ``max_cell_factor`` x the mean occupancy is
    bisected with a deterministic seeded split: seed A = the member
    with the smallest match_id, seed B = the member farthest from A
    (6-dp-rounded d2, match_id tie-break — the ivf_assign discipline),
    each member joins the nearer seed, and each child's centroid is the
    exact quantized mean of its members (the _exact_mean_cells kernel,
    so a rebuilt codebook is engine-deterministic). Children get fresh
    cell ids above the current max; the hot ids retire.

    Scale shape: only hot-cell partitions are READ (partition-pruned
    scan) and only they are rewritten; the per-cell split is one
    seeded-assignment pass + one mean aggregation, grouped by cell —
    parallel across hot cells, never a corpus rebuild. Ordering keeps
    probes AVAILABLE throughout, on both layouts: (1) children land
    first (fresh ids no codebook ranks — invisible to probes, hot
    cells still served), (2) the codebook swaps (probes now rank child
    centroids; the hot centroid is gone, so the retired rows are never
    probed even though they still exist), (3) the hot partitions
    retire — directory removal on the plain layout, an atomic manifest
    delete (tx_publish delete_values) on the transactional one. A
    crash between (2) and (3) leaves orphan hot partitions that are
    double-counted by stats but never probed; the next rebalance
    self-heals by removing any cells partition absent from the
    codebook before measuring occupancy.

    Returns {"split": {hot_cell: [child_a, child_b]}, "moved": n_rows}.
    A degenerate cell (all members identical) yields one child — the
    empty sibling drops out of the codebook naturally.
    """
    from kinesis_spark.queries.similarity import _d2, _exact_mean_cells

    layout = _read_layout(spark, index_dir)
    # codebook cell set drives everything below: orphan partitions (a
    # prior rebalance crashed between its codebook swap and its
    # retirement step) are invisible to probes but would skew occupancy
    # and duplicate match_ids if re-split — heal them first
    cb_cells = sorted(
        r["cell"] for r in read_codebook(spark, index_dir)
        .select("cell").collect()
    )
    sizes = (
        _read_cells(spark, index_dir)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    known = set(cb_cells)
    orphans = sorted(
        r["cell"]
        for r in sizes.select("cell").collect()
        if r["cell"] not in known
    )
    if orphans:
        if layout["transactional"]:
            from kinesis_spark.txstore import tx_current_manifest, tx_publish

            man = tx_current_manifest(spark, f"{index_dir}/cells")
            pcols = man["partition_col"]
            if isinstance(pcols, list):
                dead = [
                    tuple(r)
                    for r in _read_cells(
                        spark, index_dir, partition_filter={"cell": orphans}
                    ).select(*pcols).distinct().collect()
                ]
            else:
                dead = list(orphans)
            tx_publish(
                spark, f"{index_dir}/cells", None,
                partition_col=pcols, delete_values=dead,
                expect_version=man["version"],
            )
        else:
            _delete_cell_dirs(spark, f"{index_dir}/cells", orphans)
        sizes = (
            _read_cells(spark, index_dir)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    row = sizes.agg(
        (F.sum("n") / F.count(F.lit(1))).alias("mean"), F.max("cell").alias("mx")
    ).head()
    if row is None or not row["mean"]:
        return {"split": {}, "moved": 0, "healed": orphans}
    # bounded driver-side collect: one row per HOT cell (<< K)
    hot = sorted(
        r["cell"]
        for r in sizes.filter(
            F.col("n") > float(max_cell_factor) * float(row["mean"])
        ).collect()
    )
    if not hot:
        return {"split": {}, "moved": 0, "healed": orphans}
    # fresh ids above BOTH relations: an ivf_assign centroid can own
    # zero rows, so max(cells) alone could collide a child with an
    # existing (empty) codebook id
    max_cell = max(row["mx"], max(cb_cells))
    child_of = {
        h: [max_cell + 1 + 2 * i, max_cell + 2 + 2 * i]
        for i, h in enumerate(hot)
    }

    members = _read_cells(
        spark, index_dir, partition_filter={"cell": list(hot)}
    ).transform(pin)
    # seed A: smallest match_id per cell; seed B: farthest from A
    wa = Window.partitionBy("cell").orderBy("match_id")
    seed_a = (
        members.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") == 1)
        .select("cell", F.col("v").alias("va"))
    )
    with_a = members.join(F.broadcast(seed_a), "cell")
    wb = Window.partitionBy("cell").orderBy(
        F.desc("d2a"), F.asc("match_id")
    )
    seed_b = (
        with_a.withColumn("d2a", _d2(F.col("v"), F.col("va")))
        .withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .select("cell", F.col("v").alias("vb"))
    )
    kids = spark.createDataFrame(
        [(h, child_of[h][0], child_of[h][1]) for h in hot],
        "cell long, child_a long, child_b long",
    )
    assigned = (
        with_a.join(F.broadcast(seed_b), "cell")
        .join(F.broadcast(kids), "cell")
        .withColumn(
            "new_cell",
            F.when(
                _d2(F.col("v"), F.col("va")) <= _d2(F.col("v"), F.col("vb")),
                F.col("child_a"),
            ).otherwise(F.col("child_b")),
        )
    )
    meta_cols = [
        c
        for c in members.columns
        if c not in ("match_id", "v", "cell")
    ]
    new_cells = assigned.select(
        "match_id", "v", F.col("new_cell").alias("cell"), *meta_cols
    ).transform(pin)
    moved = new_cells.count()

    # child centroids: exact quantized means (engine-deterministic)
    exploded = new_cells.select("cell", F.posexplode("v").alias("idx", "comp"))
    child_cent = (
        _exact_mean_cells(exploded, ["cell"])
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "c"))).alias("pairs"))
        .select("cell", F.transform("pairs", lambda p: p["c"]).alias("cv"))
    )

    cells_root = f"{index_dir}/cells"
    pmeta = layout["partition_metadata"]
    parts = ["cell"] + ([pmeta] if pmeta else [])
    # (1) children land first — fresh ids no codebook ranks, so probes
    # keep serving the hot cells untouched in the meantime
    if layout["transactional"]:
        from kinesis_spark.txstore import tx_append, tx_current_manifest

        tx_append(spark, cells_root, new_cells)
    else:
        new_cells.write.mode("append").partitionBy(*parts).parquet(cells_root)

    # (2) codebook swap: drop hot ids, add children — from here probes
    # rank child centroids and never touch the retired rows. The swap is
    # VERSIONED (write codebook_v<N> fully, then rename-CAS the marker):
    # a crash mid-write leaves the old codebook live, so probes are
    # genuinely available throughout, and the self-heal path always has
    # a readable codebook to heal against.
    _swap_codebook(spark, index_dir, hot, child_cent)

    # (3) retire the hot partitions (never probed since step 2; a crash
    # before this point leaves orphans the next rebalance heals)
    if layout["transactional"]:
        from kinesis_spark.txstore import tx_current_manifest, tx_publish

        man = tx_current_manifest(spark, cells_root)
        pcols = man["partition_col"]
        if isinstance(pcols, list):
            # multi-level: retire every (hot cell, *) tuple actually present
            dead = [
                tuple(r) for r in members.select(*pcols).distinct().collect()
            ]
        else:
            dead = list(hot)
        tx_publish(
            spark,
            cells_root,
            None,
            partition_col=pcols,
            delete_values=dead,
            expect_version=man["version"],
        )
    else:
        _delete_cell_dirs(spark, cells_root, hot)
    return {
        "split": {h: child_of[h] for h in hot},
        "moved": moved,
        "healed": orphans,
    }
