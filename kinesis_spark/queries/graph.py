"""Graph analytics over relational edge sets: PageRank on the
customer<->supplier trade graph. Complements dedup.py's connected
components (d9) — the other classic iterative message-passing shape.

Scale design (the d9/sim11 iterative discipline):
- The edge list is derived from one orders⋈lineitem equi-join and
  materialized ONCE. The STATIC edge relation uses pins.pin_shared
  (persist: keeps partitioning + size stats visible to every round's
  join, keeps lineage so executor loss recomputes); the MUTABLE
  per-round rank state uses pins.pin (reliable checkpoint when
  a checkpoint dir is configured — survives executor loss — else
  localCheckpoint). Every iteration replays nothing upstream.
- One iteration = one shuffle: edges join ranks on src (both sides
  partitioned by node id), partial-agg sum of contributions on dst.
  Nothing corpus-sized broadcasts or collects; the only driver-side
  scalar is the node count N.
- Rank state per iteration is (node_id, rank) — 16 B per node — and is
  pinned so the final plan is one join deep regardless of
  iteration count.

Cross-engine determinism: per-edge contribution rank/outdeg is a single
IEEE division (correctly rounded, identical bits in both engines); the
order-sensitive SUM over contributions goes through the file-standard
exact bridge — FLOOR(x * 2^0-free 1e9) as DECIMAL(38,0), summed exactly,
one double division back (see queries/__init__.py determinism rules).
The damping update (1-d)/N + d*s uses the same interpolated double
constants on both sides (PR_TELEPORT's repr rides into the oracle).
Ranks are therefore bit-identical every iteration; the output rounds
to 6 dp only for display.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_spark.io import load_table
from kinesis_spark.pins import pin, pin_shared
from kinesis_spark.queries import register

PR_ITERS = 3
PR_DAMP = 0.85
# teleport mass derives from the damping factor so the pair can never
# drift apart (per-iteration rank mass must sum to 1). Computed ONCE in
# Python and interpolated by repr into the oracle so both engines see
# the identical IEEE double (1 - 0.85 is NOT the literal 0.15).
PR_TELEPORT = 1.0 - PR_DAMP
_PR_SCALE = 1_000_000_000  # 1e9: 9-dp fixed-point for the exact sum

# ONE definition of the symmetrized customer<->supplier trade graph
# (Spark builder + oracle CTE text) shared by g1 and g2 — the node
# namespacing (2*custkey / 2*suppkey+1) and symmetrization must agree or
# the graph family silently diverges. g4 deliberately uses the RAW
# bipartite (c, s) relation — different graph, not a drift.
_TRADE_EDGES_SQL = """pairs AS MATERIALIZED (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
)"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) edge list of the symmetrized trade graph."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def _pr_oracle() -> str:
    # Unrolled iterations as MATERIALIZED CTEs (each r{t} is referenced
    # by the join AND the carry — non-materialized chains re-evaluate
    # exponentially in DuckDB; see sim14's note).
    its = []
    for t in range(PR_ITERS):
        its.append(f"""
r{t + 1} AS MATERIALIZED (
  SELECT d.src AS id,
         {PR_TELEPORT!r} / (SELECT n FROM nn)
         + {PR_DAMP} * (CAST(COALESCE(c.s, 0) AS DOUBLE) / {_PR_SCALE}.0) AS r
  FROM deg d
  LEFT JOIN (
    SELECT e.dst AS id,
           SUM(CAST(FLOOR(r.r / dg.d * {_PR_SCALE}.0) AS DECIMAL(38,0))) AS s
    FROM edges e
    JOIN r{t} r ON e.src = r.id
    JOIN deg dg ON dg.src = e.src
    GROUP BY e.dst
  ) c ON c.id = d.src
)""")
    return f"""
WITH {_TRADE_EDGES_SQL},
deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM deg),
r0 AS MATERIALIZED (
  SELECT src AS id, 1.0 / (SELECT n FROM nn) AS r FROM deg
),{",".join(its).lstrip(",")}
SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       id >> 1 AS node_key,
       ROUND(r, 6) AS pagerank
FROM r{PR_ITERS}
"""


@register(
    "g1_pagerank_trade_graph",
    oracle=_pr_oracle(),
    tags=("graph", "pagerank", "iterative"),
)
def g1_pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({ITERS} damped iterations, d=0.85) over the symmetrized
    customer<->supplier trade graph: an edge per distinct (customer,
    supplier) pair that ever traded (orders⋈lineitem), both directions,
    so every node has outdegree >= 1 and there are no dangling nodes.
    Node ids namespace the two key spaces as 2*custkey / 2*suppkey+1.
    Output: every node with its type, original key, and 6-dp rank.

    Iterative shape: edge list + outdegrees pin once; each
    round is ONE edges⋈ranks join on src (partial-agg combine on dst) —
    no per-round re-join onto the node set: the symmetrized graph gives
    every node an in-edge, so the contribution sums already cover all
    nodes (a dangling-node edge set needs the nodes-left-join form
    back — see the loop-body comment).
    The per-dst contribution sum runs through the exact DECIMAL(38,0)
    fixed-point bridge so ranks are bit-identical to the oracle's
    unrolled replay every round — see the module header.

    At 100 TB the state per round is 16 B/node and the edge relation is
    reused from cache storage (persisted WITH its src layout and size
    stats — see the pin_shared comment below); iteration count is
    fixed, so total cost is {ITERS} equi-join shuffles. The same loop body serves any
    edge set — swap `pairs` for d3's near-dup candidates to rank
    duplication hubs.

    Production knob (the 30x harness's superlinear step explained): the
    scale harness FREEZES spark.sql.shuffle.partitions=32 at every
    corpus size to isolate data volume. On a real cluster the knob that
    keeps each round data-linear is partition count ~ edges / 64 MiB
    (bounding per-task shuffle memory so nothing spills), rising with
    executor count; the edge relation is already pre-partitioned on
    src, so only the 16 B/node rank relation reshuffles each round.
    Measured on THIS harness (one 32-core JVM, 30x corpus): 32
    partitions 21.9 s vs 128 partitions 39.8 s — more partitions only
    add task overhead when there is no per-executor memory wall to
    relieve, which is exactly why the knob belongs to the deployment,
    not the query.
    """
    edges = _trade_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    # one materialization of the (src, dst, d) relation for all rounds,
    # PRE-PARTITIONED on src: every iteration's edges⋈ranks then reuses
    # this side's layout and shuffles only the (node, rank) relation —
    # measured 7.3 s -> 4.3 s at sf0.1 (the classic Pregel layout: park
    # the big static relation, move the small mutable one).
    # pin_shared (persist), NOT the checkpoint pin, for the STATIC side
    # (OPTIMIZATION r11): a checkpoint surfaces as `Scan ExistingRDD,
    # UnknownPartitioning` under AQE, so every round re-Exchanged the
    # edge relation and planned blind SMJs — the InMemoryRelation keeps
    # the repartition's layout and real size stats visible to each
    # round's join (x30: 43.9 s -> 27.7 s best-of-2). Fault story is
    # unchanged-or-better: the mutable per-round ranks keep reliable
    # checkpoints; the static edge relation keeps its full lineage, so
    # an executor loss recomputes it instead of dying on lost
    # unreplicated checkpoint blocks.
    ed = (
        edges.join(deg, "src")
        .select("src", "dst", "d")
        .repartition(spark.sparkContext.defaultParallelism, "src")
        .transform(pin_shared)
    )
    # N comes straight off the pinned edge relation — the former
    # separate `nodes` relation (distinct + its own pin) duplicated
    # what `ed` already holds and paid one more checkpoint
    # materialization (OPTIMIZATION r11).
    n = ed.select("src").distinct().count()
    ranks = None
    for it in range(PR_ITERS):
        if it == 0:
            # Round 1's rank relation is the CONSTANT 1/n — joining it
            # in is a no-op join (every probe hits, every value equal).
            # Inlining the constant removes one edges-scale shuffle
            # join of the {PR_ITERS} (OPTIMIZATION r11: 4.3 s -> see
            # OPTIMIZATION_r11.md); bit-identical because `r` was
            # literally lit(1.0/n) for every row.
            contrib = ed.select(
                "dst",
                F.floor(F.lit(1.0 / n) / F.col("d") * float(_PR_SCALE))
                .cast("decimal(38,0)")
                .alias("fl"),
            )
        else:
            contrib = (
                ed.join(ranks, ed["src"] == ranks["id"])
                .select(
                    "dst",
                    F.floor(F.col("r") / F.col("d") * float(_PR_SCALE))
                    .cast("decimal(38,0)")
                    .alias("fl"),
                )
            )
        sums = contrib.groupBy("dst").agg(F.sum("fl").alias("s"))
        # NO damping re-join onto the node set: the symmetrized graph
        # gives every node an in-edge (edges = pairs ∪ reversed(pairs),
        # so in-degree == out-degree >= 1), hence `sums` already carries
        # one row per node and the oracle's LEFT JOIN never exercises
        # its NULL arm — dropping the join removes one shuffle join per
        # round (measured 4.4 s -> 3.9 s at sf0.1). A dangling-node
        # graph would need the nodes-left-join form back.
        ranks = sums.select(
            F.col("dst").alias("id"),
            (
                F.lit(PR_TELEPORT / n)
                + F.lit(PR_DAMP)
                * (F.col("s").cast("double") / F.lit(float(_PR_SCALE)))
            ).alias("r"),
        )
        # pin intermediate rounds only: the LAST round's ranks are
        # consumed exactly once by the final projection, so its
        # checkpoint materialization bought nothing (OPTIMIZATION r11)
        if it < PR_ITERS - 1:
            ranks = ranks.transform(pin)
    return ranks.select(
        F.when(F.col("id") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.shiftright("id", 1).alias("node_key"),
        F.round("r", 6).alias("pagerank"),
    )


if g1_pagerank_trade_graph.__doc__:  # absent under python -OO
    g1_pagerank_trade_graph.__doc__ = g1_pagerank_trade_graph.__doc__.format(
        ITERS=PR_ITERS
    )


BFS_HOPS = 3


def _bfs_oracle() -> str:
    its = []
    for t in range(BFS_HOPS):
        its.append(f"""
d{t + 1} AS MATERIALIZED (
  SELECT id, MIN(dd) AS dd FROM (
    SELECT id, dd FROM d{t}
    UNION ALL
    SELECT e.dst AS id, d.dd + 1 AS dd
    FROM edges e JOIN d{t} d ON e.src = d.id
  ) GROUP BY id
)""")
    return f"""
WITH {_TRADE_EDGES_SQL},
src AS MATERIALIZED (SELECT MIN(src) AS sid FROM edges),
d0 AS MATERIALIZED (
  SELECT sid AS id, CAST(0 AS BIGINT) AS dd FROM src
),{",".join(its).lstrip(",")}
SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       id >> 1 AS node_key,
       dd AS hops
FROM d{BFS_HOPS}
"""


@register(
    "g2_bfs_supply_hops",
    oracle=_bfs_oracle(),
    tags=("graph", "bfs", "iterative"),
)
def g2_bfs_supply_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reach over the trade graph: exact hop distance from
    the lowest-id customer to every node within {HOPS} hops (supplier =
    odd hop, customer = even — the bipartite supply-chain neighborhood
    expansion). Output: every reached node with its type, key, and hop
    count; unreached nodes are absent (frontier semantics, not a dense
    distance table).

    Iterative shape: the edge list is pinned once; each round
    relaxes ONLY the previous round's frontier (edges⋈frontier
    equi-join, +1), anti-joins away nodes already reached, and appends
    the genuinely-new nodes to the distance set — first-touch order IS
    the hop distance, so no MIN re-aggregation over the full reached
    set. Pure integer message-passing, exact in both engines with no fp
    bridge at all. State per round is (node_id, hops), pinned;
    at 100 TB each round shuffles frontier-sized messages, not the whole
    reached set (on this near-complete graph that halves round-3 shuffle
    volume — the naive union-then-MIN form re-sends every settled node's
    message every round).
    """
    # pre-partitioned on src for the same reason as g1: each round's
    # frontier relaxation reuses the parked edge layout. pin_shared
    # (persist) like g1's edge relation — a checkpoint would hide the
    # layout and stats behind UnknownPartitioning (OPTIMIZATION r11);
    # the mutable dist/frontier chain below keeps reliable pins.
    edges = (
        _trade_edges(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism, "src")
        .transform(pin_shared)
    )
    dist = (
        edges.agg(F.min("src").alias("id"))
        .select("id", F.lit(0).cast("bigint").alias("dd"))
        .transform(pin)
    )
    frontier = dist.select("id")
    for r in range(1, BFS_HOPS + 1):
        reached = (
            edges.join(frontier, edges["src"] == frontier["id"])
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        frontier = reached.join(dist, "id", "left_anti").transform(pin)
        dist = dist.unionAll(
            frontier.select("id", F.lit(r).cast("bigint").alias("dd"))
        ).transform(pin)
    return dist.select(
        F.when(F.col("id") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.shiftright("id", 1).alias("node_key"),
        F.col("dd").alias("hops"),
    )


if g2_bfs_supply_hops.__doc__:  # absent under python -OO
    g2_bfs_supply_hops.__doc__ = g2_bfs_supply_hops.__doc__.format(HOPS=BFS_HOPS)


def _tri_oracle() -> str:
    from kinesis_spark.queries.dedup import _CAPPED_PAIRS_SQL

    return f"""
WITH {_CAPPED_PAIRS_SQL},
e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs)
SELECT e1.a AS doc_a, e1.b AS doc_b, e2.b AS doc_c
FROM e e1
JOIN e e2 ON e2.a = e1.b
JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
"""


@register(
    "g3_neardup_triangles",
    oracle=_tri_oracle(),
    tags=("graph", "triangles", "dedup"),
)
def g3_neardup_triangles(
    spark: SparkSession, sf_dir: str, candidates: DataFrame | None = None
) -> DataFrame:
    """Triangle enumeration over the MinHash-LSH near-dup candidate
    graph (the CAPPED relation since r8, like the rest of the
    verify/consume family — d9's docstring; pass ``candidates=`` for
    the uncapped study) as undirected edges: every doc triple whose three
    pairwise edges all exist — the mutually-confirming duplicate cores
    that survive even if any single LSH band collision was a fluke.
    Output: one row per triangle, vertices in ascending doc_id order
    (each triangle counted exactly once via the a<b<c orientation).

    Plan shape: DEGREE-ORIENTED enumeration (Chiba–Nishizeki / the
    "compact-forward" algorithm): every undirected edge points from its
    lower-(degree, id) endpoint to the higher one, wedges form only
    among a node's OUT-neighbors, and the closure is one equi-join back
    onto the directed edge list. Out-degrees under this orientation are
    bounded by O(arboricity) = O(sqrt(m)), so the wedge relation is
    O(m^1.5) worst-case INDEPENDENT of skew — a duplication mega-hub
    that would make id-oriented sum(deg^2) quadratic contributes only
    sqrt-bounded wedges here (the same reason d14 caps hot buckets).
    Degree attachment costs one count aggregate + two equi-joins on the
    pair list; wedge + closure are the same two shuffle equi-joins as
    the naive form, just on the thinner directed relation. No all-pairs
    product anywhere. Each triangle {x, y, z} with x ≺ y ≺ z under the
    (degree, id) order is found exactly once — the wedge centers at x
    over out-neighbors y, z, and the directed y→z edge closes it — and
    the output re-sorts ids ascending, so the result SET is identical
    to the oracle's id-oriented replay (the orientation is a physical
    enumeration strategy, not a semantics change).
    """
    from kinesis_spark.queries.dedup import d14_capped_lsh_pairs

    pairs = candidates if candidates is not None else d14_capped_lsh_pairs(
        spark, sf_dir
    )
    # the checkpoint pin, NOT the persist-based pin_shared: the g1/g2
    # static-relation persist change was A/B'd here too and measured
    # +18% at x10 (same-session best-of-2) — e/directed feed plain
    # rebroadcast-or-shuffle joins with no reusable key layout, so the
    # columnar cache scan loses to checkpoint block reads (OPTIMIZATION
    # r11; same verdict as d9/sim12)
    e = (
        pairs
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .transform(pin)
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("dg").alias("dga"))
    db = deg.select(F.col("n").alias("b"), F.col("dg").alias("dgb"))
    # identical field names on both keys: struct comparison AND the
    # when/otherwise union below require matching struct types
    ka = F.struct(F.col("dga").alias("d"), F.col("a").alias("i"))
    kb = F.struct(F.col("dgb").alias("d"), F.col("b").alias("i"))
    # orient low-(deg,id) -> high-(deg,id); carry the dst key so wedge
    # pairing below can totally order out-neighbors without a re-join
    directed = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(ka < kb, kb).otherwise(ka).alias("dk"),
        )
        .transform(pin)
    )
    w1 = directed.select("src", F.col("dst").alias("v"), F.col("dk").alias("kv"))
    w2 = directed.select("src", F.col("dst").alias("w"), F.col("dk").alias("kw"))
    wedges = w1.join(w2, "src").filter(F.col("kv") < F.col("kw")).select(
        F.col("src").alias("u"), "v", "w"
    )
    closing = directed.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    lo = F.least("u", "v", "w")
    hi = F.greatest("u", "v", "w")
    return tri.select(
        lo.alias("doc_a"),
        (F.col("u") + F.col("v") + F.col("w") - lo - hi).alias("doc_b"),
        hi.alias("doc_c"),
    )


CN_CAP = 8  # neighborhood cap: customers considered per supplier
CN_TOP = 20  # report the top-scored customer pairs
_CN_SCALE = 1_000_000_000  # 9-dp fixed point for the exact RA sum


@register(
    "g4_copurchase_links",
    oracle=f"""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
deg AS MATERIALIZED (SELECT s, COUNT(*) AS d FROM pairs GROUP BY s),
capped AS MATERIALIZED (
  SELECT c, s FROM (
    SELECT c, s, ROW_NUMBER() OVER (PARTITION BY s ORDER BY c) AS rn FROM pairs
  ) WHERE rn <= {CN_CAP}
),
scored AS (
  SELECT a.c AS cust_a, b.c AS cust_b,
         COUNT(*) AS n_common,
         SUM(CAST(FLOOR({_CN_SCALE}.0 / CAST(dg.d AS DOUBLE)) AS DECIMAL(38,0)))
           AS sc
  FROM capped a
  JOIN capped b ON a.s = b.s AND a.c < b.c
  JOIN deg dg ON dg.s = a.s
  GROUP BY a.c, b.c
)
SELECT cust_a, cust_b, n_common,
       CAST(sc AS DOUBLE) / {_CN_SCALE}.0 AS ra_score
FROM scored
ORDER BY sc DESC, cust_a, cust_b
LIMIT {CN_TOP}
""",
    tags=("graph", "link-prediction", "similarity"),
)
def g4_copurchase_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the customer-supplier bipartite graph: the
    top-{TOP} customer pairs by resource-allocation index — RA(u,v) =
    sum over common suppliers s of 1/deg(s) (Zhou et al.'s RA; the
    log-free sibling of Adamic–Adar, chosen because 1/deg is one
    correctly-rounded IEEE division while log(deg) is libm-dependent).
    A rare shared supplier is strong evidence two customers belong to
    the same segment; a supplier half the market buys from carries
    ~zero signal — exactly what the 1/deg weight encodes.

    The TPC-H trade graph is near-complete bipartite (sum(deg^2) is
    ~172M wedges at sf0.1), so naive common-neighbor enumeration is
    quadratic — the hot-bucket problem d14 caps for LSH. Same cure
    here: each supplier contributes pairs only among its {CAP} LOWEST
    customer keys (a deterministic neighborhood sample — the GraphSAGE
    move), while the RA weight keeps the TRUE degree, so popular
    suppliers are still downweighted by their real fan-out. Wedge count
    is then <= suppliers x {CAP}({CAP}-1)/2 — linear in the supplier
    relation, independent of skew.

    Plan shape: one orders⋈lineitem equi-join for the edge list, one
    window for the per-supplier cap (shuffle on s), one self-equi-join
    on s bounded by the cap, and a partial-agg sum per (cust_a, cust_b)
    through the file-standard DECIMAL fixed-point bridge; the top-{TOP}
    is a TakeOrderedAndProject (no global sort materialization). The
    ordering key is the exact decimal sum with (cust_a, cust_b) as the
    total tie-break, so the LIMIT frontier is bit-deterministic.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = pairs.groupBy("s").agg(F.count("*").alias("d"))
    capped = (
        pairs.withColumn(
            "rn", F.row_number().over(Window.partitionBy("s").orderBy("c"))
        )
        .filter(F.col("rn") <= CN_CAP)
        .select("c", "s")
    )
    a = capped.select(F.col("c").alias("cust_a"), "s")
    b = capped.select(F.col("c").alias("cust_b"), F.col("s").alias("s2"))
    w = F.floor(F.lit(float(_CN_SCALE)) / F.col("d").cast("double")).cast(
        "decimal(38,0)"
    )
    scored = (
        a.join(b, (F.col("s") == F.col("s2")) & (F.col("cust_a") < F.col("cust_b")))
        .join(deg, "s")
        .groupBy("cust_a", "cust_b")
        .agg(F.count(F.lit(1)).alias("n_common"), F.sum(w).alias("sc"))
    )
    return (
        scored.orderBy(F.desc("sc"), "cust_a", "cust_b")
        .limit(CN_TOP)
        .select(
            "cust_a",
            "cust_b",
            "n_common",
            # UNROUNDED: sc/1e9 is one correctly-rounded division of an
            # exact integer — already bit-identical cross-engine. A
            # cosmetic ROUND(x, 6) would land on an EXACT half-µ tie
            # whenever sc ≡ 500 (mod 1000) (~1/1000 of rows), where
            # Spark's BigDecimal HALF_UP and DuckDB's double-math
            # rounding can disagree (observed live on s16).
            (F.col("sc").cast("double") / F.lit(float(_CN_SCALE))).alias("ra_score"),
        )
    )


if g4_copurchase_links.__doc__:  # absent under python -OO
    g4_copurchase_links.__doc__ = g4_copurchase_links.__doc__.format(
        CAP=CN_CAP, TOP=CN_TOP
    )
