"""Graph analytics over fixture-derived graphs (Layer-B extensions).

The event-stream benchmark's consumers (SURVEY §2.2 motivation) feed
graph-shaped downstream analytics: co-occurrence graphs from baskets,
duplicate-cluster graphs from LSH pairs (``dedup_cluster_cc`` in
``dedup.py``), and structure metrics over them. This module carries
the basket lane: the co-purchase graph (parts appearing in the same
order) and triangle counting over its thresholded edge set.

Scale notes (100 TB):

- The basket self-join is an equi-join on ``l_orderkey`` with the
  ``p1 < p2`` orientation as residual predicate — per-order fanout is
  O(basket²) with basket size bounded (≤ tens), so the pair stream is
  linear in the fact table. No nested loop
  (``test_copurchase_stays_equi_join``).
- Triangle counting intersects per-vertex out-neighbor arrays: for
  each base edge (a, b), the common out-neighbors of a and b each
  close one triangle — one adjacency groupBy plus two equi-joins over
  the (much smaller) thresholded edge set, the comparisons running
  in-row instead of through a materialized wedge join (round-14
  measured rewrite, see ``_count_triangles``). Edges are oriented by
  the (degree, id) total order (the "forward" refinement): every
  vertex's out-degree is then O(sqrt(E)) — a vertex of degree ≤
  sqrt(E) trivially, and a vertex of degree > sqrt(E) only points at
  the < 2·sqrt(E) other high-degree vertices — so total intersection
  work is O(E^1.5) and every neighbor array is O(sqrt(E)) even on
  adversarial degree distributions (a hub-and-spokes graph bases ZERO
  wedges instead of O(hub_degree²); pinned by a star-graph test).
  Triangle counts are orientation-invariant, so the id-oriented
  DuckDB oracle is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstream_benchmark_spark.io import load_table
from eventstream_benchmark_spark.operators._cache import (
    scoped_persist,
    shared_persist,
)
from eventstream_benchmark_spark.operators._util import bigint

COPURCHASE_TOPK = 50
TRIANGLE_MIN_ORDERS = 2  # edge threshold: parts co-purchased ≥ twice


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Distinct (order, part) → same-order part pairs, oriented
    p1 < p2 so each unordered pair appears once, with its order
    multiplicity."""
    d = li.select("l_orderkey", "l_partkey").distinct()
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
        )
        .agg(bigint(F.count("*")).alias("n_orders"))
    )


def _edge_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase pair aggregate (p1, p2, n_orders), materialized
    ONCE per (session, fixture) through the family-shared persist and
    reused by every basket-graph query (`copurchase_part_pairs`,
    `basket_association_rules`, `graph_triangle_count`,
    `graph_pagerank`, `graph_bfs_hops`).

    The build — distinct (order, part) + per-order self-join + pair
    groupBy — is the family's dominant cost (~11 s of
    `graph_pagerank`'s 17 s at sf1, round-6 measurement) and is
    byte-identical across the five consumers, so at 100 TB this is the
    materialized edge table a production pipeline would maintain
    rather than a per-query rebuild. Thresholding (each query applies
    its own ``n_orders`` floor) rides the persisted aggregate. The
    pair table is linear in the fact (basket size is bounded), so the
    persist is fact-scale storage at worst — the same trade
    `RangePartitioner`-style pipelines make for any reused edge set."""
    return shared_persist(
        (
            "copurchase_pairs",
            spark.sparkContext.applicationId,
            os.path.abspath(sf_dir),
        ),
        lambda: _copurchase_edges(load_table(spark, sf_dir, "lineitem")),
    )


def _edge_thresholded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ≥ TRIANGLE_MIN_ORDERS co-purchase edge set (p1 < p2) — the
    single thresholding rule every graph consumer (triangles,
    pagerank/BFS via ``_edge_undirected``) derives from the
    family-shared pair aggregate, factored so the rule can't
    desynchronize between consumers."""
    return (
        _edge_base(spark, sf_dir)
        .filter(F.col("n_orders") >= TRIANGLE_MIN_ORDERS)
        .select("p1", "p2")
    )


def _edge_undirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The thresholded UNDIRECTED edge list (src, dst) — both
    directions of every ≥ TRIANGLE_MIN_ORDERS pair — landed ONCE
    hash-partitioned on ``src`` through the family-shared persist.
    Consumed by ``graph_pagerank`` (the degree aggregate, the degree
    join, and every iteration's rank join) and ``graph_bfs_hops``
    (the seed-degree aggregate and every hop's frontier join): all of
    them key on ``src``, so with this one upfront exchange every
    iterative round is exchange-free on the edge side — the
    partitioning-reuse rule the round-5 verdict's profiling item
    established for pagerank, now shared by both iterative consumers."""

    def build() -> DataFrame:
        e = _edge_thresholded(spark, sf_dir)
        un = e.select(F.col("p1").alias("src"), F.col("p2").alias("dst")).union(
            e.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
        )
        return un.repartition("src")

    return shared_persist(
        (
            "copurchase_undirected",
            spark.sparkContext.applicationId,
            os.path.abspath(sf_dir),
        ),
        build,
    )


def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs most often
    bought in the same order. The classic association-mining primitive
    (support counting) as one self-join + groupBy; the top-k is a
    TakeOrderedAndProject with a deterministic (n DESC, p1, p2)
    tiebreak."""
    return (
        _edge_base(spark, sf_dir)
        .orderBy(F.desc("n_orders"), "p1", "p2")
        .limit(COPURCHASE_TOPK)
    )


def _degree_oriented(e: DataFrame, broadcast_degs: bool = False) -> DataFrame:
    """Orient the undirected (p1 < p2) edge set by the (degree, id)
    total order: each edge points from its lower- to its higher-ordered
    endpoint. Out-degree is then O(sqrt(E)) for every vertex — the
    bound that keeps the closing-neighbor intersection subquadratic
    under adversarial skew (a hub's edges all point INTO it, so it
    bases no wedges). One degree aggregate + two annotation joins over
    the (small, thresholded) edge set; returns (src, dst).

    ``broadcast_degs`` hints the vertex-degree frame onto both
    annotation joins (round-14, measured: the unhinted plan sort-merges
    the 1.2M-edge sf1 flood against the ~25k-row degree table twice,
    ~1.8-2.3 s; hinted 1.4-1.8 s in every interleaved round). Opt-in
    ONLY when the caller has MEASURED the edge set under
    TRIANGLE_BROADCAST_CAP (|V| <= 2E rows of two longs, so <= ~4E
    longs — the same order as the adjacency broadcast the same gate
    authorizes, not strictly smaller):
    vertices are catalog-scale at 100 TB, so an unconditional hint
    would collect a dimension-scale table to the driver."""
    degs = (
        e.select(F.col("p1").alias("v"))
        .unionAll(e.select(F.col("p2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    d1 = degs.select(F.col("v").alias("p1"), F.col("deg").alias("deg1"))
    d2 = degs.select(F.col("v").alias("p2"), F.col("deg").alias("deg2"))
    if broadcast_degs:
        d1, d2 = F.broadcast(d1), F.broadcast(d2)
    ann = e.join(d1, "p1").join(d2, "p2")
    # p1 < p2 already, so the id tie-break keeps p1 -> p2
    fwd = (F.col("deg1") < F.col("deg2")) | (
        (F.col("deg1") == F.col("deg2")) & (F.col("p1") < F.col("p2"))
    )
    return ann.select(
        F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
    )


# adjacency-side cap for the broadcast strategy: 8M edges means the
# broadcast relation carries ≤ 2·8M longs of neighbor-array payload
# over ≤ 2·sqrt-bounded vertex rows ≈ 128 MB raw, but a broadcast
# relation costs several times its raw bytes (driver-side collect +
# UnsafeHashedRelation build, replicated per executor), so the cap is
# sized for the HASHED footprint (~0.5-1 GB) to stay inside ordinary
# executor memory.  The same measured gate authorizes the degree-table
# hint in _degree_oriented: ≤ 2E rows of two longs (≤ ~4E longs), the
# same order as the adjacency payload, not strictly smaller.
TRIANGLE_BROADCAST_CAP = 8_000_000


def _count_triangles(oriented: DataFrame, n_edges: int | None = None) -> DataFrame:
    """Closing-neighbor intersection over a (deg, id)-oriented edge
    set: a triangle a≺b≺c has edges a→b, a→c, b→c under the total
    order, so for each base edge (a, b) every common OUT-neighbor
    c ∈ N⁺(a) ∩ N⁺(b) closes exactly one triangle. Emits one row per
    triangle (the exploded closing vertex), so callers count rows —
    the same contract the wedge-join spelling had.

    Round-14 rewrite (guide §3.3 "explode before a join multiplies the
    shuffle", applied to the wedge stream): the previous edge-iterator
    spelling materialized the O(Σ outdeg²) wedge stream — up to E^1.5
    rows — through a join, then probed the closing edge set. Even with
    the closing side broadcast (so wedges never hit an exchange), at
    the sf1 flood's 1.2M-edge graph the wedge join emitted ~34M rows
    through the join machinery: measured 5.0-7.1 s. Pre-grouping the
    SAME oriented edges into per-vertex neighbor arrays (one E-row
    shuffle) and intersecting the two arrays IN-ROW per edge does the
    identical O(Σ outdeg²) comparisons inside codegen without ever
    materializing a wedge row: 1.6-1.8 s, identical output (1,884,488
    triangles both ways; the degree orientation's O(sqrt E) out-degree
    bound now caps every ARRAY length instead of every wedge fanout,
    so no row or hash set is ever larger than ~2·sqrt(E) longs).

    Below TRIANGLE_BROADCAST_CAP the adjacency table is broadcast
    (edges stream map-side through two hash probes — no exchange
    beyond the one adjacency groupBy); above it the shuffled joins are
    the correct plan, the same runtime sizing rule AQE applies;
    ``n_edges`` comes from a count on the already-persisted edge
    frame, not an extra scan. When the caller does not know the edge
    count (``n_edges=None``) the safe unhinted plan is used — the
    broadcast is strictly an opt-in for a measured-small edge set."""
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    a_adj = adj.select(F.col("src").alias("a_v"), F.col("nbrs").alias("na"))
    b_adj = adj.select(F.col("src").alias("b_v"), F.col("nbrs").alias("nb"))
    if n_edges is not None and n_edges <= TRIANGLE_BROADCAST_CAP:
        a_adj, b_adj = F.broadcast(a_adj), F.broadcast(b_adj)
    return (
        oriented.join(a_adj, F.col("src") == F.col("a_v"))
        .join(b_adj, F.col("dst") == F.col("b_v"))
        .select(F.explode(F.array_intersect("na", "nb")).alias("c"))
    )


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the thresholded co-purchase graph (edges =
    part pairs co-bought in ≥ TRIANGLE_MIN_ORDERS orders): the global
    clustering signal over the basket graph. Closing-neighbor
    intersection over the (degree, id)-oriented edge set
    (``_degree_oriented`` + ``_count_triangles``) — the O(E^1.5)
    work bound that survives adversarial degree skew at 100 TB, with
    no wedge row ever materialized. Output (and hence the DuckDB
    oracle) is orientation-invariant."""
    # persist the thresholded edge set once (degree aggregate + two
    # annotation joins + vertex/edge stats all read it) and the
    # oriented set once (adjacency build + the base-edge stream); the
    # pair aggregate itself comes from the family-shared build
    e = scoped_persist(_edge_thresholded(spark, sf_dir))
    # one job on the persisted edge frame decides the broadcast
    # strategy (degree annotation AND adjacency probes) before plan
    # build. This is a deliberate exception to the build-lazily rule
    # (the tfidf pin): the count materializes exactly the scoped
    # persist the query's own first action would materialize moments
    # later, so the only plan-only cost is a cached-frame count — and
    # the decision it buys keeps the E-row edge stream out of four
    # exchanges, which no static plan choice can do safely at every
    # size. |oriented| == |e| (1:1 map), so one count serves both
    # gates.
    n_edges = e.count()
    oriented = scoped_persist(
        _degree_oriented(e, broadcast_degs=n_edges <= TRIANGLE_BROADCAST_CAP)
    )
    verts = e.select(F.col("p1").alias("v")).union(e.select(F.col("p2").alias("v")))
    return (
        _count_triangles(oriented, n_edges)
        .agg(bigint(F.count("*")).alias("n_triangles"))
        .crossJoin(e.agg(bigint(F.count("*")).alias("n_edges")))
        .crossJoin(verts.agg(bigint(F.countDistinct("v")).alias("n_vertices")))
    )


PAGERANK_ITERS = 3
PAGERANK_DAMP = 0.85
PAGERANK_TOPK = 20


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, d=0.85) over the thresholded
    co-purchase graph — the iterative NUMERIC companion to
    ``dedup_cluster_cc``'s iterative label propagation. Each round is
    one equi-join (ranks onto directed edges) + one groupBy(dst) sum —
    shuffling only (node, rank) pairs, never the corpus. N and the
    uniform seed rank fold in-plan via a broadcast one-row count (no
    driver-side .count()).

    Partitioning is REUSED across stages (the round-5 verdict's
    profiling item): the directed edge set is persisted hash-
    partitioned on ``src``, so the degree aggregate, the degree
    annotation join, and every iteration's rank join are all
    exchange-free on the edge side — only the iteration's small
    (node, rank) frame and the groupBy(dst) contributions ever move.
    Measured at sf1 (10× duplicate-flooded): 21-25 s → ~11 s warm,
    the edge build's one upfront repartition replacing three
    per-iteration edge shuffles.

    Hash-checked: scores are rounded to 6 decimals only at the output
    boundary; per-node contribution sums differ across engines by
    ~1e-16 which three damped iterations cannot amplify past the
    rounding guard, and the top-k orders by (rounded score, node id)
    so both engines cut the same 20 rows. No dangling nodes exist by
    construction (every vertex comes from an edge)."""
    # undirected edges landed ONCE hash-partitioned on src (the
    # family-SHARED frame, also consumed by BFS): the degree
    # aggregate, the annotation join, and all three rank joins consume
    # this partitioning without another edge exchange
    unp = _edge_undirected(spark, sf_dir)
    deg = unp.groupBy("src").agg(F.count("*").alias("deg"))
    # the deg join preserves hashpartitioning(src); persisting its
    # result keeps the iterations from re-running it three times
    edges = scoped_persist(unp.join(deg, "src"))

    nodes = unp.select(F.col("src").alias("v")).distinct()
    n_nodes = F.broadcast(nodes.agg(F.count("*").alias("n")))
    ranks = nodes.crossJoin(n_nodes).select(
        "v", "n", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["v"])
            .select("dst", "n", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst", "n")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = contrib.select(
            F.col("dst").alias("v"),
            "n",
            (
                (1.0 - PAGERANK_DAMP) / F.col("n")
                + PAGERANK_DAMP * F.col("in_mass")
            ).alias("rank"),
        )
    from pyspark.sql import Window as W

    scored = ranks.select("v", F.round("rank", 6).alias("score"))
    # global top-k via TakeOrderedAndProject (distributed heap merge);
    # the rank column's window then runs over ≤ TOPK rows, never the
    # full node set
    top = scored.orderBy(F.desc("score"), F.asc("v")).limit(PAGERANK_TOPK)
    w = W.orderBy(F.desc("score"), F.asc("v"))
    return (
        top.withColumn("rk", bigint(F.row_number().over(w)))
        .select(bigint(F.col("v")).alias("v"), "score", "rk")
    )


RULES_MIN_SUPPORT = 2  # min co-occurrence count for a rule
RULES_TOPK = 25


def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over the basket graph — the metric layer
    on top of ``copurchase_part_pairs``'s support counting: for each
    part pair with support ≥ 2, confidence(p1→p2) and lift, ranked by
    lift. Singleton counts come from one (part) groupBy; the pair
    table joins them twice (broadcast — the distinct-part set is
    dimension-sized even at 100 TB because parts are a dimension).

    Determinism: lift = N·c(ab)/(c(a)·c(b)) is a ratio, so the ORDER
    is pinned on the floor-micro integer with a (p1, p2) tiebreak —
    both engines run the identical IEEE pipeline (each count cast to
    double before the multiplies, then one division), so they cut the
    identical top-25. The per-factor casts are the overflow-safe
    spelling: a BIGINT·BIGINT product of 100 TB-scale counts wraps
    past 2⁶³ while doubles hold every count exactly and never
    overflow. Confidence is emitted the same way."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = F.broadcast(
        d.select("l_orderkey").distinct().agg(F.count("*").alias("n_orders"))
    )
    singles = d.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count("*").alias("c_single")
    )
    pairs = _edge_base(spark, sf_dir).filter(
        F.col("n_orders") >= RULES_MIN_SUPPORT
    )
    joined = (
        pairs.withColumnRenamed("n_orders", "c_pair")
        .join(F.broadcast(singles.select(F.col("p").alias("p1"),
                                         F.col("c_single").alias("c1"))), "p1")
        .join(F.broadcast(singles.select(F.col("p").alias("p2"),
                                         F.col("c_single").alias("c2"))), "p2")
        .crossJoin(n_orders)
    )
    # each count casts to double BEFORE the multiply: counts are exact
    # in a double's 53-bit mantissa, but a BIGINT·BIGINT product of
    # 1e10-1e11-scale counts (the 100 TB regime) overflows signed
    # 64-bit — silently wrapped by non-ANSI Spark, raised by DuckDB —
    # so the pre-cast spelling is the one that stays cross-engine
    # exact at every scale (both engines run the identical IEEE
    # double pipeline, so the floor-micro sort key still matches
    # bit-for-bit)
    lift_micro = bigint(
        F.floor(
            F.lit(1_000_000.0)
            * (
                (F.col("n_orders").cast("double") * F.col("c_pair").cast("double"))
                / (F.col("c1").cast("double") * F.col("c2").cast("double"))
            )
        )
    )
    conf_micro = bigint(
        F.floor(
            F.lit(1_000_000.0)
            * (F.col("c_pair").cast("double") / F.col("c1").cast("double"))
        )
    )
    return (
        joined.select(
            "p1",
            "p2",
            bigint(F.col("c_pair")).alias("support"),
            conf_micro.alias("confidence_micro"),
            lift_micro.alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), "p1", "p2")
        .limit(RULES_TOPK)
    )


BFS_MAX_HOPS = 4
BFS_SEEDS = 3


def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the thresholded co-purchase graph: from
    the 3 highest-degree hubs (ties by id), the minimum hop count to
    every reachable vertex within 4 hops — the "how close is the
    catalog to its hubs" reachability profile, and the third iterative
    graph primitive next to ``dedup_cluster_cc`` (labels) and
    ``graph_pagerank`` (numeric).

    Scale shape (100 TB): classic frontier expansion — each round
    joins the CURRENT frontier (never the accumulated reached set)
    onto the edge list and anti-joins what's already reached, so every
    round shuffles only (vertex) pairs and the per-round work tracks
    the frontier size, not the graph. Rounds are persisted via
    ``scoped_persist`` so round k+1 doesn't recompute rounds 1..k.
    Output is the per-hop profile (count + id-sum fingerprint), exact
    integers; the DuckDB oracle replays it as a recursive CTE whose
    UNION-dedupe bounds the walk at |V|·hops rows despite cycles."""
    # the family-SHARED undirected src-partitioned edge list: every
    # hop's frontier join keys on src, so each round is exchange-free
    # on the edge side (the same reuse pagerank's iterations get)
    un = _edge_undirected(spark, sf_dir)
    seeds = (
        un.groupBy(F.col("src").alias("v"))
        .agg(F.count("*").alias("deg"))
        .orderBy(F.desc("deg"), "v")
        .limit(BFS_SEEDS)
        .select("v")
    )
    reached = scoped_persist(seeds.withColumn("hops", F.lit(0)))
    frontier = reached.select("v")
    for hop in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(un, frontier["v"] == un["src"])
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(reached.select("v"), "v", "left_anti")
            .withColumn("hops", F.lit(hop))
        )
        reached = scoped_persist(reached.union(nxt))
        # the next frontier reads hop-k rows back OUT of the persisted
        # union — deriving it from the unpersisted `nxt` subtree would
        # re-run every earlier hop's expansion join on each evaluation
        # (the O(hops²) recompute the docstring's persist rule exists
        # to prevent)
        frontier = reached.filter(F.col("hops") == hop).select("v")
    return (
        reached.groupBy("hops")
        .agg(
            bigint(F.count("*")).alias("n_nodes"),
            bigint(F.sum("v")).alias("sum_v"),
        )
        .orderBy("hops")
        .select(bigint(F.col("hops")).alias("hops"), "n_nodes", "sum_v")
    )


def graph_edge_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-graph edge churn: the co-purchase graph rebuilt per
    order YEAR, then year-over-year reconciliation — how many edges
    each year retains from, adds over, and loses versus the previous
    year (the graph-evolution profile behind recommender freshness
    decisions). Yearly edge sets are distinct (year, p1<p2) pairs; the
    churn counts are one equi self-join (retained) and two anti joins
    (new, lost), all keyed on (year, p1, p2) — never anything wider
    than the edge table, exact integers throughout.

    The report's base is the ORDER years, not the years that happen to
    have edges: a year whose basket graph collapses to zero qualifying
    pairs still reports the loss of the prior year's edges (n_edges=0,
    lost>0) instead of silently vanishing from the profile, while the
    phantom year AFTER the data's last year — where the shifted frame
    alone has rows — is excluded because it is not an order year."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    d = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.year("o_orderdate").alias("yr"),
            "l_orderkey",
            "l_partkey",
        )
        .distinct()
    )
    a, b = d.alias("a"), d.alias("b")
    edges = scoped_persist(
        a.join(
            b,
            (F.col("a.yr") == F.col("b.yr"))
            & (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.yr").alias("yr"),
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
        )
        .distinct()
    )
    shifted = edges.select((F.col("yr") + 1).alias("yr"), "p1", "p2")
    per_year = edges.groupBy("yr").agg(bigint(F.count("*")).alias("n_edges"))
    retained = (
        edges.join(shifted, ["yr", "p1", "p2"])
        .groupBy("yr")
        .agg(bigint(F.count("*")).alias("retained"))
    )
    new_e = (
        edges.join(shifted, ["yr", "p1", "p2"], "left_anti")
        .groupBy("yr")
        .agg(bigint(F.count("*")).alias("new_edges"))
    )
    lost = (
        shifted.join(edges, ["yr", "p1", "p2"], "left_anti")
        .groupBy("yr")
        .agg(bigint(F.count("*")).alias("lost_edges"))
    )
    years = orders.select(F.year("o_orderdate").alias("yr")).distinct()
    first_year = F.broadcast(years.agg(F.min("yr").alias("y0")))
    return (
        years.join(per_year, "yr", "left")
        .join(retained, "yr", "left")
        .join(new_e, "yr", "left")
        .join(lost, "yr", "left")
        .crossJoin(first_year)
        .filter(F.col("yr") > F.col("y0"))  # first year has no predecessor
        .select(
            bigint(F.col("yr")).alias("yr"),
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.coalesce("retained", F.lit(0)).alias("retained"),
            F.coalesce("new_edges", F.lit(0)).alias("new_edges"),
            F.coalesce("lost_edges", F.lit(0)).alias("lost_edges"),
        )
        .orderBy("yr")
    )


QUERIES = {
    "copurchase_part_pairs": copurchase_part_pairs,
    "graph_edge_churn": graph_edge_churn,
    "graph_triangle_count": graph_triangle_count,
    "graph_pagerank": graph_pagerank,
    "graph_bfs_hops": graph_bfs_hops,
    "basket_association_rules": basket_association_rules,
}

_EDGES_CTE = """
    d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
"""

def _pagerank_sql() -> str:
    """The 3-iteration PageRank recurrence as chained CTEs — the exact
    per-round algebra the Spark loop builds."""
    iters = "".join(
        f"""
        r{k + 1} AS (
            SELECT dd.dst AS v, nn.n,
                   (1.0 - {PAGERANK_DAMP}) / nn.n
                   + {PAGERANK_DAMP} * sum(r{k}.rank / dd.deg) AS rank
            FROM dedges dd JOIN r{k} ON dd.src = r{k}.v
            CROSS JOIN ncount nn
            GROUP BY dd.dst, nn.n
        ),"""
        for k in range(PAGERANK_ITERS)
    )
    return f"""
        WITH {_EDGES_CTE},
        e AS (SELECT p1, p2 FROM edges WHERE n_orders >= {TRIANGLE_MIN_ORDERS}),
        un AS (SELECT p1 AS src, p2 AS dst FROM e
               UNION ALL SELECT p2, p1 FROM e),
        deg AS (SELECT src, count(*) AS deg FROM un GROUP BY src),
        dedges AS (SELECT un.src, un.dst, deg.deg FROM un JOIN deg USING (src)),
        nodes AS (SELECT DISTINCT src AS v FROM un),
        ncount AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT v, n, 1.0 / n AS rank FROM nodes CROSS JOIN ncount),
        {iters.rstrip(',')}
        SELECT CAST(v AS BIGINT) AS v, round(rank, 6) AS score,
               row_number() OVER (ORDER BY round(rank, 6) DESC, v) AS rk
        FROM r{PAGERANK_ITERS}
        ORDER BY score DESC, v LIMIT {PAGERANK_TOPK}
    """


ORACLES = {
    "graph_pagerank": _pagerank_sql(),
    "copurchase_part_pairs": f"""
        WITH {_EDGES_CTE}
        SELECT p1, p2, n_orders FROM edges
        ORDER BY n_orders DESC, p1, p2 LIMIT {COPURCHASE_TOPK}
    """,
    # same yearly edge sets, same semi/anti reconciliation
    "graph_edge_churn": """
        WITH dd AS (
            SELECT DISTINCT year(o_orderdate) AS yr, l_orderkey, l_partkey
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        e AS (
            SELECT DISTINCT a.yr, a.l_partkey AS p1, b.l_partkey AS p2
            FROM dd a JOIN dd b
              ON a.yr = b.yr AND a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
        ),
        sh AS (SELECT yr + 1 AS yr, p1, p2 FROM e),
        py AS (SELECT yr, CAST(count(*) AS BIGINT) AS n_edges
               FROM e GROUP BY yr),
        ret AS (SELECT e.yr, CAST(count(*) AS BIGINT) AS retained
                FROM e JOIN sh USING (yr, p1, p2) GROUP BY e.yr),
        ne AS (SELECT yr, CAST(count(*) AS BIGINT) AS new_edges FROM e
               WHERE NOT EXISTS (SELECT 1 FROM sh
                                 WHERE sh.yr = e.yr AND sh.p1 = e.p1
                                   AND sh.p2 = e.p2)
               GROUP BY yr),
        lo AS (SELECT yr, CAST(count(*) AS BIGINT) AS lost_edges FROM sh
               WHERE NOT EXISTS (SELECT 1 FROM e
                                 WHERE e.yr = sh.yr AND e.p1 = sh.p1
                                   AND e.p2 = sh.p2)
               GROUP BY yr),
        yrs AS (SELECT DISTINCT year(o_orderdate) AS yr FROM orders),
        y0 AS (SELECT min(yr) AS y0 FROM yrs)
        SELECT CAST(yrs.yr AS BIGINT) AS yr,
               coalesce(py.n_edges, 0) AS n_edges,
               coalesce(ret.retained, 0) AS retained,
               coalesce(ne.new_edges, 0) AS new_edges,
               coalesce(lo.lost_edges, 0) AS lost_edges
        FROM yrs
        LEFT JOIN py ON py.yr = yrs.yr
        LEFT JOIN ret ON ret.yr = yrs.yr
        LEFT JOIN ne ON ne.yr = yrs.yr
        LEFT JOIN lo ON lo.yr = yrs.yr
        CROSS JOIN y0
        WHERE yrs.yr > y0.y0
        ORDER BY yrs.yr
    """,
    # identical support/confidence/lift algebra — per-factor double
    # casts (overflow-safe at 100 TB counts) feeding the same IEEE
    # multiply/divide; the floor-micro lift is the sort key in both
    "basket_association_rules": f"""
        WITH {_EDGES_CTE},
        no AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM d),
        singles AS (SELECT l_partkey AS p, count(*) AS c_single
                    FROM d GROUP BY 1),
        pairs AS (SELECT p1, p2, n_orders AS c_pair FROM edges
                  WHERE n_orders >= {RULES_MIN_SUPPORT})
        SELECT p1, p2,
               CAST(c_pair AS BIGINT) AS support,
               CAST(floor(1000000.0 * (CAST(c_pair AS DOUBLE)
                    / CAST(s1.c_single AS DOUBLE))) AS BIGINT)
                   AS confidence_micro,
               CAST(floor(1000000.0 * ((CAST(no.n_orders AS DOUBLE)
                         * CAST(c_pair AS DOUBLE))
                    / (CAST(s1.c_single AS DOUBLE)
                         * CAST(s2.c_single AS DOUBLE)))) AS BIGINT)
                   AS lift_micro
        FROM pairs
        JOIN singles s1 ON s1.p = pairs.p1
        JOIN singles s2 ON s2.p = pairs.p2
        CROSS JOIN no
        ORDER BY lift_micro DESC, p1, p2 LIMIT {RULES_TOPK}
    """,
    # min-hop BFS as a recursive CTE: the UNION (not UNION ALL)
    # dedupes accumulated (v, hops) pairs each iteration, so cycles
    # can't blow the walk past |V|·(hops+1) rows; min(hops) per vertex
    # afterwards == the layer at which Spark's frontier first reached it
    "graph_bfs_hops": f"""
        WITH RECURSIVE {_EDGES_CTE},
        e AS (SELECT p1, p2 FROM edges WHERE n_orders >= {TRIANGLE_MIN_ORDERS}),
        un AS (SELECT p1 AS src, p2 AS dst FROM e
               UNION ALL SELECT p2, p1 FROM e),
        seeds AS (
            SELECT src AS v FROM un GROUP BY src
            ORDER BY count(*) DESC, src LIMIT {BFS_SEEDS}
        ),
        walk(v, hops) AS (
            SELECT v, 0 FROM seeds
            UNION
            SELECT un.dst, w.hops + 1
            FROM walk w JOIN un ON un.src = w.v
            WHERE w.hops < {BFS_MAX_HOPS}
        ),
        minhop AS (SELECT v, min(hops) AS hops FROM walk GROUP BY v)
        SELECT CAST(hops AS BIGINT) AS hops,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(v) AS BIGINT) AS sum_v
        FROM minhop GROUP BY hops ORDER BY hops
    """,
    "graph_triangle_count": f"""
        WITH {_EDGES_CTE},
        e AS (SELECT p1, p2 FROM edges WHERE n_orders >= {TRIANGLE_MIN_ORDERS})
        SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM e ab
             JOIN e bc ON ab.p2 = bc.p1
             JOIN e ac ON ac.p1 = ab.p1 AND ac.p2 = bc.p2) AS n_triangles,
            (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
            (SELECT CAST(count(*) AS BIGINT) FROM
                (SELECT p1 AS v FROM e UNION SELECT p2 FROM e)) AS n_vertices
    """,
}
