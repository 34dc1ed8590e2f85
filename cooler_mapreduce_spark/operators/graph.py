"""Iterative graph analytics on the star schema.

The reference is a MapReduce engine, and PageRank is *the* canonical
iterative MapReduce workload (one map/reduce round per iteration); the
reference cannot express it because its jobs are single-round
(SURVEY.md §2.2 — no job chaining exists). Here each iteration is a
declarative join + partial-aggregated shuffle and the driver loop only
composes plans — the Spark-native shape of iterate-until-k.

One kernel per algorithm family; each kernel's docstring carries its
determinism and scale argument:

- :func:`rank_walk`, over static sides built once by :func:`rank_sides`,
  runs the five rank queries (uniform, weighted and personalized
  PageRank, and the two weekly random-walk-with-restart faces);
- :func:`bfs_levels`, unweighted frontier BFS, runs the single-source
  hop query and the multi-source harmonic centrality;
- :func:`sssp_frame`, bounded-cost frontier Bellman-Ford, runs the
  weighted shortest-path query.

A loop-control value (a node count, an emptiness probe) is observed by
the checkpoint job that precedes it (:func:`observability.checkpoint`),
never counted by a job of its own.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..observability import checkpoint
from ..registry import query
from ..sources.catalog import table

#: contribution quantum: floor(x * 1e15) — doubles in [0, 1] keep ~15
#: significant digits, so the quantization error is below double ULP
#: noise while floor() is unambiguous in both engines (unlike rounding a
#: double into a high-scale decimal).
_Q = "1000000000000000"

_PR_ITERATIONS = 5
_DAMPING = 0.85

#: tie-strength -> edge weight: stronger trading relationships are
#: "closer" (more distinct orders => lower traversal cost). Integer
#: weights in {1,2,3} keep all arithmetic exact and the state space
#: bounded; the CASE is one spelling shared by both engines.
_SSSP_W = "CASE WHEN n >= 4 THEN 1 WHEN n >= 2 THEN 2 ELSE 3 END"

#: DuckDB CTEs of the mirrored supplier↔customer trade graph and its
#: out-degrees (node ids: supplier s ↦ 2s, customer c ↦ 2c+1), the
#: prefix of every unweighted trade-graph oracle.
_DUCK_TRADE = """
    fwd AS (
        SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)"""

#: the same graph weighted by the ``_SSSP_W`` tie-strength bands, the
#: prefix of the weighted PageRank and SSSP oracles.
_DUCK_WTRADE = f"""
    fwd AS (
        SELECT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst,
               COUNT(DISTINCT l_orderkey) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ),
    wedges AS (SELECT src, dst, {_SSSP_W} AS w FROM fwd),
    edges AS (
        SELECT src, dst, w FROM wedges
        UNION ALL SELECT dst, src, w FROM wedges
    )"""


def rank_sides(
    edges: DataFrame, group: tuple[str, ...] = (), weight: str | None = None
) -> tuple[DataFrame, DataFrame, int]:
    """The static sides of :func:`rank_walk`, materialized once: the
    ``(group…, src, dst[, weight])`` edge frame hash-partitioned by its
    join key ``(group…, src)`` and checkpointed, its out-degree frame
    ``(group…, src, outdeg)`` — ``count(*)``, or ``sum(weight)`` when
    weighted — checkpointed too, and the degree frame's row count,
    observed by that checkpoint job.

    Every round joins both sides; without the checkpoints round i's plan
    re-derives the edge subtree i times over (measured 8.4 s → the
    uniform bench entry at sf0.1, values bit-identical). At cluster
    scale these are ``checkpoint()`` calls to a reliable store.
    Partitioning BEFORE the checkpoint (r11, measured): the checkpoint
    scans back with unknown partitioning, but AQE's stage cache turns
    the per-round edge and degree exchanges into ReusedExchange, so the
    O(|edges|) frame crosses the network once. Checkpointing first and
    repartitioning on top pins the partition count and disables AQE
    coalescing (interleaved A/B at sf0.1, identical top-20: 4.93 s vs
    7.1 s).
    """
    keys = (*group, "src")
    edges = edges.repartition(*keys).localCheckpoint(eager=True)
    outdeg = F.sum(weight) if weight else F.count("*")
    deg, m = checkpoint(edges.groupBy(*keys).agg(outdeg.alias("outdeg")))
    return edges, deg, m["n"]


def rank_walk(
    edges: DataFrame,
    deg: DataFrame,
    *,
    init: Column,
    teleport: Column,
    iterations: int = _PR_ITERATIONS,
    group: tuple[str, ...] = (),
    weight: str | None = None,
) -> DataFrame:
    """``iterations`` rounds of damped rank flow over the static sides
    of :func:`rank_sides`; returns the ``(group…, node, outdeg, rank)``
    rank state.

    One round is one map/combine/reduce: the rank state joins the edges
    on ``(group…, src)``, each edge carries the contribution
    ``floor(rank [* weight] / outdeg * 1e15)``, the contributions sum
    per ``(group…, dst)``, the sums join the out-degree frame, and
    ``rank = teleport + 0.85 · s / 1e15``. ``init`` and ``teleport`` are
    columns over ``node`` that the caller spells and the kernel uses
    verbatim: each tier's oracle pins its own IEEE constants (``0.15/n``
    and ``(1.0-0.85)/n`` are different doubles). Nodes are each group's
    sources; a destination that is never a source gets no row (the
    inner join to the out-degree frame drops it, as the oracles' joins
    do), and a mirrored edge set loses no rank mass. Group keys
    (``week`` for the RWR faces) widen every join and aggregation key,
    so more groups add rows, never stages.

    Determinism: floor() yields a BIGINT in both engines, and the
    per-destination sum of longs is exact and order-free — it is bounded
    by the quantized rank mass 1e15 ≪ 2^63 per group (ANSI errors
    loudly rather than wrap). The rest is a fixed sequence of scalar
    IEEE double ops, identical in Spark and DuckDB, so every round is a
    pure function of the edge multiset (property-pinned against a
    sequential replica in tests/test_property_blocks.py). Longs rather
    than decimal(38,0) keep the aggregate buffer at 8 bytes (A/B at
    sf0.1, identical top-20: 3.84 → 3.30 s).

    Scale: each round shuffles O(|edges|) contributions keyed by
    destination with map-side partial sums; the state is O(|nodes|)
    rows and is never collected. The rank side of both joins is
    hash-built (SHUFFLE_HASH): sort-merge would re-sort the checkpointed
    edge partitions every round, while the build side is O(|nodes| /
    partitions) rows per task — executor-sized at any scale, unlike a
    forced broadcast (sf0.1: 6.3 → ~4 s). The state is checkpointed
    once, after round ``iterations // 2`` when ``iterations > 3``: the
    later rounds re-optimize half the plan depth and a retry replays
    half the lineage, while a plain localCheckpoint leaves AQE free to
    size every exchange (r12 A/B at k=5, identical top-20: 2.600 →
    2.434 s min). At k ≤ 3 the plan is already shallow and the
    checkpoint is skipped.
    """
    q = F.lit(float(_Q))
    # the static sides' group keys are renamed so both joins stay
    # unambiguous against the rank state's own group columns
    renamed = {g: "side_" + g for g in group}
    e, d = edges.withColumnsRenamed(renamed), deg.withColumnsRenamed(renamed)
    keys = [F.col(g) == F.col(side) for g, side in renamed.items()]
    on = functools.reduce(operator.and_, [*keys, F.col("node") == F.col("src")])
    share = F.col("rank") * F.col(weight) if weight else F.col("rank")
    ranks = deg.select(*group, F.col("src").alias("node"), "outdeg").withColumn("rank", init)
    damped = teleport + F.lit(_DAMPING) * (F.col("s").cast("double") / q)
    for i in range(iterations):
        contribs = ranks.hint("shuffle_hash").join(e, on).select(
            *group, F.col("dst").alias("node"), F.floor(share / F.col("outdeg") * q).alias("c")
        )
        sums = contribs.groupBy(*group, "node").agg(F.sum("c").alias("s"))
        ranks = sums.join(d.hint("shuffle_hash"), on).select(
            *group, "node", "outdeg", damped.alias("rank")
        )
        if iterations > 3 and i == iterations // 2:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def _pagerank_oracle(iterations: int = _PR_ITERATIONS) -> str:
    """Unrolled-iteration DuckDB oracle: standard SQL forbids aggregates
    in a recursive CTE term, so the k iterations unroll into k chained
    CTEs — same joins, same quantized sums as the Spark loop."""
    parts = [
        f"""
    WITH {_DUCK_TRADE},
    n AS (SELECT COUNT(*) AS n_nodes FROM deg),
    pr0 AS (
        SELECT src AS node, outdeg,
               CAST(1.0 AS DOUBLE) / (SELECT n_nodes FROM n) AS rank
        FROM deg
    )"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
    pr{i} AS (
        SELECT e.dst AS node, d2.outdeg,
               0.15 / (SELECT n_nodes FROM n)
               + {_DAMPING} * (CAST(SUM(CAST(FLOOR(p.rank / p.outdeg * {_Q}.0)
                                             AS DECIMAL(38,0))) AS DOUBLE) / {_Q}.0)
                   AS rank
        FROM pr{i - 1} p
        JOIN edges e ON p.node = e.src
        JOIN deg d2 ON e.dst = d2.src
        GROUP BY e.dst, d2.outdeg
    )"""
        )
    parts.append(
        f"""
    SELECT node, round(rank, 12) AS rank
    FROM pr{iterations}
    ORDER BY rank DESC, node
    LIMIT 20
    """
    )
    return "".join(parts)


@query(
    "pagerank_supplier_customer",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "join", "aggregation"),
)
def pagerank_supplier_customer(
    spark: SparkSession, sf_dir: str, iterations: int = _PR_ITERATIONS
) -> DataFrame:
    """PageRank (k=5, damping 0.85) over the supplier↔customer trade
    graph: an edge links a supplier to every customer it shipped to
    (lineitem ⋈ orders), mirrored so the bipartite graph has no dangling
    nodes (every node that appears has out-degree ≥ 1, so no rank mass
    leaks and the teleport term is the plain 0.15/N).

    Node ids: supplier s ↦ 2s, customer c ↦ 2c+1 — disjoint numeric
    spaces, join-key friendly. The rounds are :func:`rank_walk`'s — the
    exact map/combine/reduce round the reference would need k chained
    jobs for. The node count n is observed by the degree frame's
    checkpoint job (:func:`rank_sides`) and folded into the init and
    teleport literals: 1.0/n and 0.15/n are the same IEEE divisions the
    oracle does, and a 1-row aggregate in the plan would re-enter every
    round as a broadcast subtree (r12 A/B, identical top-20: 2.592 → 2.477 s).
    The final top-20 is TakeOrdered with a node-id tiebreak.
    """
    edges, deg, n = _uniform_trade_graph(spark, sf_dir)
    init, teleport = F.lit(1.0) / F.lit(n), F.lit(0.15) / F.lit(n)
    ranks = rank_walk(edges, deg, init=init, teleport=teleport, iterations=iterations)
    return (
        ranks.orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
        .select("node", F.round("rank", 12).alias("rank"))
    )


def _uniform_trade_graph(spark: SparkSession, sf_dir: str):
    """:func:`rank_sides` of the unweighted mirrored trade graph — the
    static sides shared by the uniform and personalized PageRank tiers,
    :func:`bfs_hops_from_hub` and :func:`harmonic_centrality_hubs`."""
    li = table(spark, sf_dir, "lineitem", fan_out=False)
    o = table(spark, sf_dir, "orders", fan_out=False)
    fwd = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # mirrored edge: src/dst parity differs, so the union is disjoint
    return rank_sides(fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))))


def _copurchase_graph(spark: SparkSession, sf_dir: str):
    """Shared derivation for the co-purchase graph analytics: the
    distinct undirected edge set (parts co-occurring in an order), the
    undirected degree frame, and the ADJACENCY of the degree-ordered
    orientation (rank nodes by (degree, id), orient every edge low→high
    — oriented out-degree bounded O(√m); adj collects each node's
    out-neighbors). Frames with multiple consumers are
    localCheckpoint'ed (edges, deg, adj) so the intra-order self-join,
    the degree aggregate, and the adjacency collect run once, not once
    per consumer (the pagerank static-side pattern). The oriented edge
    LIST is deliberately not materialized (r12, measured): both
    consumers re-emit it as explode(adj), so a checkpointed oriented
    frame had exactly one consumer — the adj aggregate — and its eager
    materialization was pure overhead (interleaved A/B, full triangle
    query: oriented-ckpt 3.758 s vs adj-only-ckpt 3.566 s min; and
    checkpointing adj halves the former TWO collect_list aggregations,
    census body 1.954 → 1.592 s). adj is unsorted (r12): array_intersect
    is set-semantic and the pair emission order never reaches a result,
    so the former sort_array paid a per-group sort for display only
    (census body −0.16 s; identity MATCH pinned in the probe)."""
    li = table(spark, sf_dir, "lineitem", fan_out=False).select(
        "l_orderkey", "l_partkey"
    )
    # Pair generation as ONE exchange, not a self-join (measured, r7):
    # group each order's basket into a sorted distinct array, then emit
    # the C(k,2) ordered pairs JVM-side with a nested TRANSFORM (for
    # element i, pair it with every later element) — interleaved A/B at
    # sf0.1 read join 2.2 s vs array 1.4 s steady for identical edge
    # sets. The intra-order self-join exchanges lineitem twice (once
    # per side) before the pair filter; the basket groupBy exchanges it
    # once, and collect_set dedups within-order repeats before any pair
    # exists. Per-order cost is the same C(basket²) either way — the
    # basket-size bound the docstring below relies on is unchanged.
    basket = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    edges = (
        basket.select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(ps, (x, i) -> transform("
                        "slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v)))"
                    )
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = _undirected_degree(edges).localCheckpoint(eager=True)
    # SHUFFLE_HASH on the degree side of both annotation joins (the
    # pagerank rationale, rank_walk): sort-merge would sort the
    # O(m) edge side twice for zero information, while a shuffled-hash
    # build of the O(nodes) degree table streams the edges unsorted —
    # the per-task build is O(|nodes|/partitions), bounded at any
    # scale. Interleaved A/B at sf0.1: orientation 0.67 → 0.55 s.
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du")).hint(
        "shuffle_hash"
    )
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv")).hint(
        "shuffle_hash"
    )
    ranked = edges.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # NOT pre-partitioned by src, deliberately (measured, r7): a
    # repartition("src") before the adjacency collect — the pagerank
    # static-side discipline — makes the adjacency groupBy exchange-free,
    # but the interleaved A/B at sf0.1 read old 1.39 s vs
    # src-partitioned 2.14 s steady-state. The frozen src-hash layout
    # inherits the oriented graph's hub skew at a fixed partition count
    # and removes the exchanges AQE uses to rebalance; the census's
    # dst-keyed second join re-shuffles the O(m) frame either way. The
    # pagerank discipline pays off only when the SAME key is joined
    # every iteration — a one-shot census is cheaper letting AQE size
    # each exchange.
    oriented = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    adj = (
        oriented.groupBy("src")
        .agg(F.collect_list("dst").alias("nbrs"))
        .localCheckpoint(eager=True)
    )
    return edges, deg, adj


def _undirected_degree(edges: DataFrame) -> DataFrame:
    """``(node, d)``: each endpoint's degree in a ``(u, v)`` edge set."""
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


def _affinity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part AFFINITY graph shared by :func:`kcore_copurchase` and
    :func:`label_propagation_communities`: ``(u, v)`` with u < v for
    parts co-purchased in ≥2 distinct orders. Returned UNCHECKPOINTED —
    each caller owns its materialization point (the
    :func:`_weighted_trade_edges` convention)."""
    li = table(spark, sf_dir, "lineitem", fan_out=False).select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_partkey") < F.col("b.l_partkey")))
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )


@query(
    "triangle_count_copurchase",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
        GROUP BY node
    )
    SELECT (SELECT COUNT(*) FROM pairs) AS edges,
           (SELECT SUM(d * (d - 1) / 2) FROM deg) AS wedges,
           (SELECT COUNT(*)
            FROM pairs e1, pairs e2, pairs e3
            WHERE e1.u = e2.u AND e1.v = e3.u AND e2.v = e3.v
              AND e1.v < e2.v) AS triangles
    """,
    tags=("graph", "join", "aggregation"),
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts are linked
    when some order contains both): edge count, wedge count
    (sum-of-C(deg,2) open two-paths), and exact triangle count — the
    canonical "counting triangles with MapReduce" workload (Suri &
    Vassilvitskii's degree-ordered partitioning, WWW'11), which the
    single-round reference cannot chain.

    Scale design: the naive wedge join fans out quadratically at hub
    nodes — a part in k orders' baskets yields C(k,2) wedges (148M open
    wedges at sf0.1 vs 1.2M edges). Two composed fixes:

    1. DEGREE ORIENTATION — rank nodes by (degree, id), orient every
       edge low→high rank. Oriented out-degree is bounded by O(√m)
       regardless of hub size, and each triangle's three edges occur in
       exactly one orientation, so it is counted once with no
       divide-by-three pass.
    2. ADJACENCY INTERSECTION instead of a wedge self-join — collect
       each node's sorted out-neighbor array once (bounded O(√m) per
       node by fix 1), re-emit the oriented edges FROM the adjacency
       rows (explode carries adj(u) for free — the edge list is
       exactly explode(adj), so no src-keyed join exists), join
       adj(v) on the dst endpoint, and count |adj(u) ∩ adj(v)| per
       edge with a JVM-side array intersect. The O(m^1.5) wedge set
       is never materialized or shuffled. Measured at sf0.1 this
       halves the wedge-join formulation (≈6 s vs ≈11 s
       steady-state); the explode-carry then drops the second join
       (1.81 → 1.65 s census body).

    Edge derivation groups each order's basket into a sorted distinct
    array and emits the C(k,2) pairs JVM-side (one exchange; bounded
    by basket size per order key — see ``_copurchase_graph``). All
    counts are exact integers — no float determinism concerns
    (array_intersect is set-semantic, so the collected adjacency's
    order never reaches a result; the former sort_array was display
    cosmetics and was dropped in r12, measured in
    ``_copurchase_graph``).
    """
    edges, deg, adj = _copurchase_graph(spark, sf_dir)
    # The oriented edge list IS explode(adj) — re-emitting each edge
    # from its adjacency row carries nbrs_u for free, eliminating the
    # src-keyed edge⋈adj join entirely (one O(m) join + exchange
    # dropped; the dst-keyed join's input payload is unchanged, since
    # the joined formulation carried the same nbrs_u per edge row).
    # Measured interleaved at sf0.1: census body 1.81 → 1.65 s steady.
    # adj arrives checkpointed and unsorted from _copurchase_graph
    # (r12; measurement and identity note there).
    eu = adj.select(
        "src", F.explode("nbrs").alias("dst"), F.col("nbrs").alias("nbrs_u")
    )
    adj_v = adj.select(F.col("src").alias("jv"), F.col("nbrs").alias("nbrs_v"))
    tri = (
        eu.join(adj_v, F.col("dst") == F.col("jv"))
        .select(F.size(F.array_intersect("nbrs_u", "nbrs_v")).alias("t"))
        # coalesce: SUM over the empty frame is NULL, but the oracle's
        # COUNT(*) subquery yields 0 on a triangle-free graph
        .agg(F.coalesce(F.sum("t"), F.lit(0).cast("bigint")).alias("triangles"))
    )
    summary = edges.agg(F.count("*").alias("edges"))
    wedges = deg.agg(
        (F.sum(F.col("d") * (F.col("d") - 1)) / F.lit(2)).alias("wedges")
    )
    return (
        summary.crossJoin(F.broadcast(wedges)).crossJoin(F.broadcast(tri))
        .select("edges", "wedges", "triangles")
    )


@query(
    "clustering_coefficient_topk",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
        GROUP BY node
    ),
    triangles AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM pairs e1, pairs e2, pairs e3
        WHERE e1.u = e2.u AND e1.v = e3.u AND e2.v = e3.v AND e1.v < e2.v
    ),
    per_node AS (
        SELECT node, COUNT(*) AS t FROM (
            SELECT x AS node FROM triangles
            UNION ALL SELECT y FROM triangles
            UNION ALL SELECT z FROM triangles
        ) GROUP BY node
    )
    SELECT d.node, d.d AS degree, COALESCE(p.t, 0) AS n_triangles,
           2.0 * CAST(COALESCE(p.t, 0) AS DOUBLE)
               / (CAST(d.d AS DOUBLE) * CAST(d.d - 1 AS DOUBLE)) AS clustering
    FROM deg d LEFT JOIN per_node p ON p.node = d.node
    WHERE d.d >= 2
    ORDER BY clustering DESC, d.node
    LIMIT 15
    """,
    tags=("graph", "join", "aggregation"),
)
def clustering_coefficient_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node — how tightly each part's
    co-purchase neighborhood closes on itself (c_v = 2·T_v / d_v(d_v−1))
    — reported for the top-15 most-clustered parts with ≥2 neighbors.

    Attribution is the step beyond the census: a per-edge intersection
    COUNT cannot credit the third vertex, so the common-neighbor arrays
    are EXPLODED instead — each oriented edge (u,v) emits its closing
    vertices w ∈ adj(u) ∩ adj(v), listing every triangle exactly once
    (the orientation guarantee), and the 3-way vertex unpivot feeds one
    partial-aggregable per-node count. The listing is O(#triangles)
    rows — the true output size of the attribution, with the wedge set
    still never materialized. Coefficients are single IEEE divisions of
    exact integers; the top-15 is TakeOrdered with a node tiebreak.
    """
    edges, deg, adj = _copurchase_graph(spark, sf_dir)
    # explode(adj) re-emits the oriented edges carrying nbrs_u, so the
    # src-keyed edge⋈adj join disappears (the census-body pattern —
    # see triangle_count_copurchase). adj arrives checkpointed and
    # unsorted from _copurchase_graph (r12): the exploded closing
    # vertices' order never reaches the per-node counts.
    eu = adj.select(
        "src", F.explode("nbrs").alias("dst"), F.col("nbrs").alias("nbrs_u")
    )
    adj_v = adj.select(F.col("src").alias("jv"), F.col("nbrs").alias("nbrs_v"))
    tri_vertices = (
        eu.join(adj_v, F.col("dst") == F.col("jv"))
        .select(
            "src",
            "dst",
            F.explode(F.array_intersect("nbrs_u", "nbrs_v")).alias("w"),
        )
        .select(
            F.explode(F.array(F.col("src"), F.col("dst"), F.col("w"))).alias("node")
        )
    )
    per_node = tri_vertices.groupBy("node").agg(F.count("*").alias("t"))
    return (
        deg.filter(F.col("d") >= 2)
        .join(per_node, "node", "left")
        .select(
            "node",
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).alias("n_triangles"),
            (
                F.lit(2.0) * F.coalesce(F.col("t"), F.lit(0)).cast("double")
                / (F.col("d").cast("double") * (F.col("d") - 1).cast("double"))
            ).alias("clustering"),
        )
        .orderBy(F.desc("clustering"), F.asc("node"))
        .limit(15)
    )


_KCORE_K = 3


@query(
    "kcore_copurchase",
    oracle=None,  # iterative peeling to a fixpoint — not one SQL
    # expression (standard SQL forbids aggregates in recursive terms);
    # the test pins the surviving core against a sequential pure-Python
    # peeling of the identical edge set.
    tags=("graph", "iterative", "aggregation"),
)
def kcore_copurchase(
    spark: SparkSession,
    sf_dir: str,
    k: int = _KCORE_K,
    stats: dict | None = None,
) -> DataFrame:
    """K-core decomposition (k=3) of the part AFFINITY graph — parts
    linked only when co-purchased in ≥2 distinct orders (the raw
    co-purchase graph is too dense to have a nontrivial core: its
    minimum degree already exceeds 40 at sf0.01; the affinity filter
    is the same support threshold basket_association_rules applies).
    The k-core is the maximal subgraph in which every node keeps ≥k
    neighbors — the robustness/cohesion primitive that completes the
    graph suite (PageRank, connected components, triangle census,
    clustering, now core extraction).

    The algorithm is iterative PEELING: drop all nodes with degree <k,
    recompute degrees on the induced subgraph, repeat until no node
    falls below k. Each round is one semi-join edge filter + one
    partial-aggregable degree count — O(|edges|) work, shrinking
    monotonically; the k-core is ORDER-INDEPENDENT (peeling is
    confluent), so the result is deterministic regardless of round
    grouping. The loop's only driver traffic is one surviving-node
    count per round (the bounded fixpoint probe, a job of its own: the
    degree frame it counts is never checkpointed); it terminates because the node count
    strictly decreases until the fixpoint — asserted, never assumed:
    a non-converged loop raises rather than returning a partial core.
    Output: one row per surviving node with its in-core degree. When a
    ``stats`` dict is passed, the peeling round count and final
    survivor count are recorded in it (the 1×/10× scale sweep asserts
    the fixpoint arrives in comparably few rounds at both scales).
    """
    cur = _affinity_edges(spark, sf_dir).localCheckpoint(eager=True)
    prev_nodes = None
    # diameter-independent bound; peeling halves fast
    for rounds_run in range(1, 61):
        cur_deg = _undirected_degree(cur)
        keep = cur_deg.filter(F.col("d") >= k).select("node")
        n_keep = keep.count()
        if n_keep in (prev_nodes, 0):
            break
        prev_nodes = n_keep
        # NOT shuffle_hash-hinted, deliberately (measured, r7): hinting
        # the keep sides read 3.94 s vs 3.78 s unhinted at sf0.1 — the
        # peeling loop is fixpoint-probe + checkpoint bound, not
        # sort bound, unlike the census orientation where the hint won.
        ku = keep.select(F.col("node").alias("u"))
        kv = keep.select(F.col("node").alias("v"))
        cur = (
            cur.join(ku, "u", "left_semi")
            .join(kv, "v", "left_semi")
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError("k-core peeling did not converge in 60 rounds")
    if stats is not None:
        stats["rounds"] = rounds_run
        stats["survivors"] = n_keep
    return cur_deg.filter(F.col("d") >= k).select(
        "node", F.col("d").alias("core_degree")
    )


_BFS_MAX_HOPS = 6


def _top_degree(deg: DataFrame, n: int) -> DataFrame:
    """The ``n`` highest out-degree nodes of a ``(src, outdeg)`` frame
    (outdeg DESC, src ASC — a total order) as a ``(node)`` frame: a
    TakeOrdered over the degree rows, never a collect."""
    return deg.orderBy(F.desc("outdeg"), F.asc("src")).limit(n).select(F.col("src").alias("node"))


def bfs_levels(
    edges: DataFrame, sources: DataFrame, max_hops: int, *, group: tuple[str, ...] = ()
) -> DataFrame:
    """Unweighted frontier BFS over a ``(src, dst)`` edge frame from a
    ``(group…, node)`` source frame; returns ``(group…, node, hops)``:
    every node within ``max_hops`` of its group's sources, once, at its
    first level (the sources at 0). Group keys (``seed`` for the
    harmonic cohort) ride every frontier row, so one join per hop
    advances every group at once: more sources add rows, never stages.

    One hop is the frontier ⋈ edges on ``node = src`` (one keyed
    shuffle, O(|edges touched|)), a ``distinct`` over (group…, dst), and
    an anti-join against ``seen`` — VISITED-SET PRUNING: mirrored edges
    guarantee 2-step returns, so an unpruned hop d would re-expand every
    node reached at d-1 and the frontier would grow toward |groups| ×
    |nodes|; with the anti-join each (group…, node) expands exactly
    once, at its first (= minimum) level — any path through a node at a
    later level yields neighbors at levels ≥ those its first expansion
    produced, so pruning cannot change a minimum and no MIN(hops)
    collapse is needed.

    Each level goes through :func:`observability.checkpoint`: the job
    that materializes it also counts it, and a 0-row level ends the loop
    with no probe job. ``seen`` is the union of the checkpointed levels
    and is never re-checkpointed, so its plan is a union of checkpoint
    scans and round k+1 replays none of rounds 1..k.

    SHUFFLE_HASH on the state sides (r12, measured): the frontier and
    ``seen`` are O(|groups| × nodes) pairs of ints (harmonic at sf0.1:
    frontier ≤ 57 k rows, seen ≤ 64 k vs 1.17 M edges), yet sort-merge
    re-SORTED the checkpointed O(|edges|) side every hop — the
    :func:`rank_walk` rationale. Hash-building the state sides streams
    the edges unsorted: interleaved A/B at sf0.1, identical top-20,
    4.181 → 3.993 s min; executed plan 8 SortMergeJoins → 0. Per-task
    builds are O(|groups| × nodes / partitions), executor-sized at any
    scale.
    """
    keys = [*group, "node"]
    e = edges.select(F.col("src").alias("node"), "dst")
    level = sources.select(*keys).localCheckpoint(eager=True)
    seen = level.withColumn("hops", F.lit(0))
    for hop in range(1, max_hops + 1):
        level, m = checkpoint(
            level.hint("shuffle_hash")
            .join(e, "node")
            .select(*group, F.col("dst").alias("node"))
            .distinct()
            .join(seen.select(*keys).hint("shuffle_hash"), keys, "left_anti")
        )
        if m["n"] == 0:
            break
        seen = seen.unionAll(level.withColumn("hops", F.lit(hop)))
    return seen


@query(
    "bfs_hops_from_hub",
    oracle=f"""
    WITH RECURSIVE {_DUCK_TRADE},
    hub AS (SELECT src AS node FROM deg ORDER BY outdeg DESC, src LIMIT 1),
    reach(node, hop) AS (
        SELECT node, 0 FROM hub
        UNION
        SELECT e.dst, r.hop + 1
        FROM reach r JOIN edges e ON r.node = e.src
        WHERE r.hop < {_BFS_MAX_HOPS}
    )
    SELECT node, CAST(MIN(hop) AS BIGINT) AS hops
    FROM reach GROUP BY node
    """,
    tags=("graph", "iterative", "bfs"),
)
def bfs_hops_from_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from the hub (highest-degree node, id tiebreak)
    of the supplier↔customer trade graph (same node encoding and
    checkpointed sides as ``pagerank_supplier_customer``: supplier
    s ↦ 2s, customer c ↦ 2c+1, mirrored edges) — "how far is everything
    from the busiest actor", the reachability primitive under influence
    radii and blast-radius queries. Capped at 6 hops: a mirrored
    bipartite trade graph is small-world, so deeper frontiers are empty
    long before the cap.

    The Spark side is :func:`bfs_levels` from the one hub. The oracle
    spells the same search as a recursive CTE whose UNION dedups
    (node, hop) rows, then takes MIN(hop) — bounded by |V| × hops rows,
    exponential walk blowup excluded. All values are exact integers; no
    float determinism risk anywhere.
    """
    edges, deg, _ = _uniform_trade_graph(spark, sf_dir)
    levels = bfs_levels(edges, _top_degree(deg, 1), _BFS_MAX_HOPS)
    return levels.select("node", F.col("hops").cast("bigint").alias("hops"))


_LPA_ITERATIONS = 5


@query(
    "label_propagation_communities",
    oracle=None,  # synchronous fixed-round label propagation — iterative
    # multi-round dataflow, not one SQL expression; the test pins the
    # full label assignment against a pure-Python replica of the
    # identical (deterministic) update rule on the identical edge set.
    tags=("graph", "iterative", "community"),
)
def label_propagation_communities(
    spark: SparkSession, sf_dir: str, iterations: int = _LPA_ITERATIONS
) -> DataFrame:
    """Community detection by LABEL PROPAGATION (Raghavan et al. 2007)
    over the part affinity graph (co-purchased in ≥2 distinct orders —
    the same support threshold as the k-core and basket-rules tiers):
    every node starts as its own label; each round it adopts the label
    most frequent among its neighbors. Communities are the fixpoint
    labels' member sets — the near-linear-time community primitive that
    rounds out the graph suite.

    Determinism (classic LPA is notoriously order-dependent — this
    variant is not): updates are SYNCHRONOUS (round t+1 reads only
    round t, like the connected-components rewrite) and the adopted
    label is the argmax under the total order (count DESC, label ASC) —
    one ``max(struct(cnt, -label))`` partial-aggregable aggregate, so
    shuffle arrival order cannot change the winner. Fixed round count
    rather than a convergence probe: synchronous LPA can 2-cycle on
    bipartite-ish regions (a fixpoint test need not terminate), and a
    fixed horizon keeps the result well-defined; 5 rounds saturate this
    graph's diameter-2 affinity clusters.

    Scale: each round is one hash join (labels onto the undirected edge
    list, both sides keyed by node) + one partial-aggregable count +
    one argmax — all O(|edges|) with no global structure; round results
    localCheckpoint so the lineage stays flat across rounds (the
    PageRank pattern). Output: one row per community with its size and
    canonical (minimum) member — rows-only at the driver, value-pinned
    by the replica test.
    """
    edges = _affinity_edges(spark, sf_dir)
    und = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .localCheckpoint(eager=True)
    )
    labels = und.select("node").distinct().select(
        "node", F.col("node").alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        nbl = (
            und.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            )
            .groupBy("node", "label")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            nbl.groupBy("node")
            .agg(F.max(F.struct("cnt", (-F.col("label")).alias("nl"))).alias("m"))
            .select("node", (-F.col("m.nl")).alias("label"))
            .localCheckpoint(eager=True)
        )
    return (
        labels.groupBy("label")
        .agg(F.count("*").alias("n_members"), F.min("node").alias("min_member"))
        .select(F.col("label").alias("community"), "n_members", "min_member")
    )


# ------------------------------------------- weighted SSSP (bounded) ----

#: cost horizon: paths costlier than this are outside the query's radius
#: (the weighted sibling of the BFS hop cap — a mirrored bipartite trade
#: graph is small-world, so the horizon bounds rounds, rows, AND the
#: oracle's recursive enumeration at |V| x (horizon+1) states).
_SSSP_MAX_COST = 8


@query(
    "sssp_weighted_from_hub",
    oracle=f"""
    WITH RECURSIVE {_DUCK_WTRADE},
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    hub AS (SELECT src AS node FROM deg ORDER BY outdeg DESC, src LIMIT 1),
    reach(node, cost) AS (
        SELECT node, 0 FROM hub
        UNION
        SELECT e.dst, r.cost + e.w
        FROM reach r JOIN edges e ON r.node = e.src
        WHERE r.cost + e.w <= {_SSSP_MAX_COST}
    )
    SELECT node, CAST(MIN(cost) AS BIGINT) AS cost
    FROM reach GROUP BY node
    """,
    tags=("graph", "iterative", "sssp", "shortest-path"),
)
def sssp_weighted_from_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest path from the hub of the
    supplier<->customer trade graph (same node encoding and hub choice as
    :func:`bfs_hops_from_hub`), where edge weight is the tie-strength
    cost {1,2,3} (more distinct shared orders = cheaper hop) and the
    search is bounded by a cost horizon instead of a hop cap — "who is
    within trading distance d of the busiest actor when relationship
    strength sets the metric".

    The Spark side is frontier Bellman-Ford: per round, relax only the
    FRONTIER (nodes whose cost improved last round) against the edge
    list — one keyed shuffle per round, O(|edges touched|) — take the
    per-node MIN of (old dist ∪ candidates), and the new frontier is the
    improved rows (an anti-join on the exact (node, cost) pair). With
    integer weights >= 1 the horizon also bounds the round count (a
    cost-8 path has <= 8 edges), and the loop exits early on an empty
    frontier, read from the frontier's own checkpoint job; each round's
    state is localCheckpoint'ed so round k+1's plan does not replay
    rounds 1..k (the :func:`bfs_levels` convention). The oracle
    spells the same search as a recursive CTE whose UNION dedups
    (node, cost) states — bounded by |V| x (horizon+1), exponential path
    enumeration excluded. All values exact integers; no float
    determinism risk anywhere.

    100 TB shape: dist/frontier are O(|V|) rows keyed by node; every
    relaxation shuffles only frontier-adjacent edges; nothing is ever
    collected or broadcast (the hub is a TakeOrdered over the degree
    rows, checkpointed as the first dist state).

    Reference parity: beyond the reference — its single-round MapReduce
    cannot chain relaxation state across rounds (SURVEY.md §2.2: no job
    chaining exists).
    """
    edges = _weighted_trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    return sssp_frame(edges, _top_degree(deg, 1), _SSSP_MAX_COST)


def _weighted_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mirrored tie-strength trade graph shared by
    :func:`sssp_weighted_from_hub` and :func:`weighted_pagerank_trade`:
    supplier↔customer edges weighted by the {1,2,3} cost bands of
    ``_SSSP_W`` (more distinct shared orders = stronger tie). Returned
    UNCHECKPOINTED — each caller owns its own materialization point
    (sssp checkpoints before the relaxation loop; :func:`rank_sides`
    repartitions by src first so the checkpoint lands pre-partitioned)."""
    li = table(spark, sf_dir, "lineitem", fan_out=False).select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders", fan_out=False).select("o_orderkey", "o_custkey")
    fwd = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .agg(F.count_distinct("l_orderkey").alias("n"))
        .select("src", "dst", F.expr(_SSSP_W).alias("w"))
    )
    return fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )


def sssp_frame(edges: DataFrame, sources: DataFrame, max_cost: int) -> DataFrame:
    """Bounded-cost frontier Bellman-Ford over an ``(src, dst, w)`` edge
    frame from a ``(node)`` source frame — the relaxation kernel of
    :func:`sssp_weighted_from_hub`, factored out so the property suite
    can pin it against a sequential Dijkstra on arbitrary graphs
    (tests/test_property_blocks.py). Integer weights >= 1 required (the
    horizon then bounds the round count)."""
    dist = sources.withColumn("cost", F.lit(0)).localCheckpoint(eager=True)
    frontier = dist
    for _ in range(max_cost):
        fr = frontier.hint("shuffle_hash")
        cand = (
            fr.join(edges, fr.node == edges.src)
            .select(F.col("dst").alias("node"), (fr.cost + edges.w).alias("cost"))
            .filter(F.col("cost") <= max_cost)
        )
        new_dist = (
            dist.unionAll(cand)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=True)
        )
        frontier, m = checkpoint(new_dist.join(dist, ["node", "cost"], "left_anti"))
        dist = new_dist
        if m["n"] == 0:
            break
    return dist.select("node", F.col("cost").cast("bigint").alias("cost"))


def _weighted_pagerank_oracle(iterations: int = _PR_ITERATIONS) -> str:
    """Unrolled-iteration DuckDB oracle for the weighted tier — the
    `_pagerank_oracle` construction with SUM(w) out-weights and
    weight-proportional contributions. The teleport term spells
    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) so both engines
    compute the IDENTICAL IEEE subtraction the query's
    ``F.lit(1.0 - _DAMPING)`` does (a bare 0.15 decimal literal would
    cast to the neighboring double and could flip a floor-quantized
    contribution at a knife edge)."""
    tele = "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))"
    parts = [
        f"""
    WITH {_DUCK_WTRADE},
    ow AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY src),
    n AS (SELECT COUNT(*) AS n_nodes FROM ow),
    pr0 AS (
        SELECT src AS node, outw,
               CAST(1.0 AS DOUBLE) / (SELECT n_nodes FROM n) AS rank
        FROM ow
    )"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
    pr{i} AS (
        SELECT e.dst AS node, d2.outw,
               {tele} / (SELECT n_nodes FROM n)
               + {_DAMPING} * (CAST(SUM(CAST(FLOOR(p.rank * e.w / p.outw * {_Q}.0)
                                             AS DECIMAL(38,0))) AS DOUBLE) / {_Q}.0)
                   AS rank
        FROM pr{i - 1} p
        JOIN edges e ON p.node = e.src
        JOIN ow d2 ON e.dst = d2.src
        GROUP BY e.dst, d2.outw
    )"""
        )
    parts.append(
        f"""
    SELECT node, round(rank, 12) AS rank
    FROM pr{iterations}
    ORDER BY rank DESC, node
    LIMIT 20
    """
    )
    return "".join(parts)


@query(
    "weighted_pagerank_trade",
    oracle=_weighted_pagerank_oracle(),
    tags=("graph", "iterative", "join", "aggregation", "weighted"),
)
def weighted_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional PageRank (k=5, damping 0.85) over the
    tie-strength trade graph: the supplier↔customer edges of
    ``pagerank_supplier_customer`` but weighted by the {1,2,3} cost
    bands ``sssp_weighted_from_hub`` introduced, so rank flows pro rata
    to relationship strength — "who is influential when strong trading
    ties count more", the weighted sibling completing the ranking tier.

    :func:`rank_walk` with ``weight="w"``: contribution rank·w/outdeg,
    out-degree SUM(w). The node count n, observed by the out-weight
    frame's checkpoint job, is folded into the init and teleport
    literals, as in the uniform tier; the teleport is (1.0-0.85)/n, the
    subtraction the oracle spells. The oracle unrolls the same five
    iterations as chained CTEs. Top-20 is TakeOrdered with a node-id
    tiebreak.

    Reference parity: the canonical iterative-MapReduce workload the
    reference cannot chain (SURVEY.md §2.2); closes the round-8
    verdict's staged-kernel item (next-round #1).
    """
    edges, deg, n = rank_sides(_weighted_trade_edges(spark, sf_dir), weight="w")
    init, teleport = F.lit(1.0) / F.lit(n), F.lit(1.0 - _DAMPING) / F.lit(n)
    ranks = rank_walk(edges, deg, weight="w", init=init, teleport=teleport)
    # Round BEFORE ordering so the top-20 gate binds to the same value
    # the oracle's ORDER BY sees (the round-12 alias) — a round-12 tie
    # between distinct unrounded ranks must not flip limit membership.
    return (
        ranks.select("node", F.round("rank", 12).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
    )


#: personalization seed set: the first eight SUPPLIER nodes (ids 2s —
#: present at every SF; a real deployment passes any cohort). |S| is a
#: literal so the teleport constant is closed-form in both engines.
_PPR_SEEDS = tuple(2 * s for s in range(1, 9))


def _personalized_pagerank_oracle(iterations: int = _PR_ITERATIONS) -> str:
    """Unrolled-iteration DuckDB oracle for the personalized tier: the
    uniform construction with the teleport mass concentrated on the
    literal seed set — CASE WHEN node IN seeds THEN (1-d)/|S| ELSE 0 —
    and rank initialized to the seed indicator /|S|. The (1-d) term
    spells (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) for the same
    IEEE-identity reason as the weighted oracle."""
    seeds = ", ".join(str(s) for s in _PPR_SEEDS)
    ns = float(len(_PPR_SEEDS))
    tele = (
        f"CASE WHEN e.dst IN ({seeds})"
        f" THEN (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / {ns}"
        f" ELSE CAST(0.0 AS DOUBLE) END"
    )
    parts = [
        f"""
    WITH {_DUCK_TRADE},
    pr0 AS (
        SELECT src AS node, outdeg,
               CASE WHEN src IN ({seeds}) THEN CAST(1.0 AS DOUBLE) / {ns}
                    ELSE CAST(0.0 AS DOUBLE) END AS rank
        FROM deg
    )"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
    pr{i} AS (
        SELECT e.dst AS node, d2.outdeg,
               {tele}
               + {_DAMPING} * (CAST(SUM(CAST(FLOOR(p.rank / p.outdeg * {_Q}.0)
                                             AS DECIMAL(38,0))) AS DOUBLE) / {_Q}.0)
                   AS rank
        FROM pr{i - 1} p
        JOIN edges e ON p.node = e.src
        JOIN deg d2 ON e.dst = d2.src
        GROUP BY e.dst, d2.outdeg
    )"""
        )
    parts.append(
        f"""
    SELECT node, round(rank, 12) AS rank
    FROM pr{iterations}
    WHERE round(rank, 12) > 0.0
    ORDER BY rank DESC, node
    LIMIT 20
    """
    )
    return "".join(parts)


@query(
    "personalized_pagerank_suppliers",
    oracle=_personalized_pagerank_oracle(),
    tags=("graph", "iterative", "join", "aggregation", "personalized"),
)
def personalized_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank / random-walk-with-restart (Haveliwala,
    WWW'02) from an eight-supplier seed cohort over the trade graph:
    the teleport mass lands ONLY on the seeds ((1-d)/|S| each, rank
    initialized to the seed indicator), so the stationary mass measures
    proximity TO THE COHORT — "which customers and suppliers are in
    this cohort's trading orbit", the graph-similarity primitive behind
    related-entity recommendation, influence cohorts, and seed-expanded
    audience building. Top-20 positive-rank nodes (rank-desc, node-id
    tiebreak); zero-rank nodes outside the walk's reach are excluded in
    BOTH engines by the same round-12 gate.

    :func:`rank_walk` over the uniform tier's static sides, with the
    seed gate a literal isin (no join, no broadcast, no node count) and
    the teleport constant the IDENTICAL IEEE expression in both engines.

    Reference parity: the canonical iterative-MapReduce workload the
    reference cannot chain (SURVEY.md §2.2); completes the ranking
    family's third member (uniform / weighted / personalized).
    """
    edges, deg, _ = _uniform_trade_graph(spark, sf_dir)
    ns = float(len(_PPR_SEEDS))
    seed = F.col("node").isin(*_PPR_SEEDS)
    init = F.when(seed, F.lit(1.0 / ns)).otherwise(F.lit(0.0))
    teleport = F.when(seed, F.lit((1.0 - _DAMPING) / ns)).otherwise(F.lit(0.0))
    ranks = rank_walk(edges, deg, init=init, teleport=teleport)
    return (
        ranks.select("node", F.round("rank", 12).alias("rank"))
        .filter(F.col("rank") > 0.0)
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
    )


# ------------------------------------------------ windowed RWR (events) --

#: RWR seed event type for the windowed face: the funnel entry point.
_RWR_SEED = "signup"


def _weekly_transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-WEEK behavioral transition graph over events: within each
    tumbling calendar week (Monday-truncated ``ts`` date), each user's
    consecutive events (ts order, event_id tiebreak) contribute one
    ``src event_type → dst event_type`` edge; pairs straddling a week
    boundary are excluded so every week's graph is self-contained.
    Edge weight = transition count. Output: ``(week, src, dst, w)``.

    Scale shape: ONE user-keyed exchange for the lead window (the
    sessionize/as-of family's shape), then a partial-aggregable groupBy
    onto O(weeks × |types|²) edge rows — the graph is bounded by the
    event-type vocabulary per week, not by the event count.
    """
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events", fan_out=False).select(
        "user_id", "ts", "event_id", "event_type"
    )
    # Monday-truncated week as TIMESTAMP_NTZ (the wall_trunc convention:
    # tz-free DATE truncation, then NTZ — pandas renders DuckDB DATEs as
    # midnight Timestamps, so both engines emit the identical instant).
    week = F.trunc(F.to_date("ts"), "week").cast("timestamp_ntz")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        week.alias("week"),
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
        F.lead(week).over(w).alias("dst_week"),
    )
    return (
        nxt.filter(F.col("dst").isNotNull() & (F.col("dst_week") == F.col("week")))
        .groupBy("week", "src", "dst")
        .agg(F.count("*").alias("w"))
    )


def _weekly_rwr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The visible ``(week, node, rank)`` rows of the windowed RWR: one
    independent weighted walk per week over
    :func:`_weekly_transition_edges`, seeded at ``_RWR_SEED`` (the
    teleport mass (1-d) lands only there; rank starts as the seed
    indicator), ranks rounded to 12 places with zero ranks dropped —
    the row set both weekly faces and their oracles share."""
    edges, deg, _ = rank_sides(_weekly_transition_edges(spark, sf_dir), ("week",), "w")
    seed = F.col("node") == F.lit(_RWR_SEED)
    init = F.when(seed, F.lit(1.0)).otherwise(F.lit(0.0))
    teleport = F.when(seed, F.lit(1.0 - _DAMPING)).otherwise(F.lit(0.0))
    ranks = rank_walk(edges, deg, group=("week",), weight="w", init=init, teleport=teleport)
    rounded = ranks.select("week", "node", F.round("rank", 12).alias("rank"))
    return rounded.filter(F.col("rank") > 0.0)


def _rwr_weekly_oracle(iterations: int = _PR_ITERATIONS, with_deltas: bool = False) -> str:
    """Unrolled-iteration DuckDB oracle for the windowed RWR: the
    personalized construction with ``week`` widening every group and
    join key, the seed gate a literal equality on the event type, and
    the teleport constant spelled (CAST(1.0 AS DOUBLE) - CAST(0.85 AS
    DOUBLE)) for IEEE identity with the engine's Python-computed
    ``1.0 - damping``. With ``with_deltas`` the final SELECT appends
    one node-keyed LAG window over the same visible (round-12,
    positive-rank) row set — the week-over-week drift face shares the
    entire CTE chain."""
    tele = (
        f"CASE WHEN e.dst = '{_RWR_SEED}'"
        f" THEN (CAST(1.0 AS DOUBLE) - CAST({_DAMPING} AS DOUBLE))"
        f" ELSE CAST(0.0 AS DOUBLE) END"
    )
    parts = [
        f"""
    WITH ev AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(date_trunc('week', CAST(ts AS DATE)) AS TIMESTAMP) AS week
        FROM events
    ),
    nxt AS (
        SELECT week, event_type AS src,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst,
               LEAD(week) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst_week
        FROM ev
    ),
    edges AS (
        SELECT week, src, dst, COUNT(*) AS w
        FROM nxt WHERE dst IS NOT NULL AND dst_week = week
        GROUP BY 1, 2, 3
    ),
    ow AS (SELECT week, src, SUM(w) AS outw FROM edges GROUP BY 1, 2),
    pr0 AS (
        SELECT week, src AS node, outw,
               CASE WHEN src = '{_RWR_SEED}' THEN CAST(1.0 AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS rank
        FROM ow
    )"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
    pr{i} AS (
        SELECT e.week, e.dst AS node, d2.outw,
               {tele}
               + {_DAMPING} * (CAST(SUM(CAST(FLOOR(p.rank * e.w / p.outw * {_Q}.0)
                                             AS DECIMAL(38,0))) AS DOUBLE) / {_Q}.0)
                   AS rank
        FROM pr{i - 1} p
        JOIN edges e ON p.week = e.week AND p.node = e.src
        JOIN ow d2 ON e.week = d2.week AND e.dst = d2.src
        GROUP BY e.week, e.dst, d2.outw
    )"""
        )
    if with_deltas:
        parts.append(
            f"""
    SELECT week, node, rank, prev_rank, rank - prev_rank AS delta
    FROM (
        SELECT week, node, rank,
               LAG(rank) OVER (PARTITION BY node ORDER BY week) AS prev_rank
        FROM (
            SELECT week, node, round(rank, 12) AS rank
            FROM pr{iterations}
            WHERE round(rank, 12) > 0.0
        )
    )
    ORDER BY week, node
    """
        )
    else:
        parts.append(
            f"""
    SELECT week, node, round(rank, 12) AS rank
    FROM pr{iterations}
    WHERE round(rank, 12) > 0.0
    ORDER BY week, rank DESC, node
    """
        )
    return "".join(parts)


@query(
    "rwr_weekly_event_types",
    oracle=_rwr_weekly_oracle(),
    tags=("graph", "iterative", "window", "aggregation", "events", "personalized"),
)
def rwr_weekly_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINDOWED random-walk-with-restart over the events graph: each
    tumbling calendar week's behavioral transition graph (consecutive
    same-user events → ``event_type`` edges weighted by count,
    :func:`_weekly_transition_edges`) is ranked by an independent RWR
    seeded at 'signup' — "which behaviors sit in the signup funnel's
    orbit, week by week". The per-week rank trajectories are the drift
    detector behind funnel-health dashboards: a week whose 'purchase'
    proximity drops signals a broken funnel even when raw counts hold.

    :func:`rank_walk` with ``group=("week",)`` runs EVERY week's walk
    in the same five join+aggregate rounds — the week key widens each
    shuffle instead of multiplying stages, so 5 weeks or 5,000 cost the
    same plan depth. The oracle unrolls the identical five iterations
    as chained CTEs with week in every key.

    100 TB shape: the transition derivation is one user-keyed window
    exchange over events (the sessionize family's shape) folding into
    O(weeks × |types|²) edge rows; each RWR iteration shuffles
    O(|edges|) quantized bigint contributions keyed by (week, dst)
    with map-side partial sums. The seed gate is a literal predicate —
    nothing collected, nothing broadcast, no caps needed because the
    graph is vocabulary-bounded per week.

    Reference parity: iterative MapReduce the reference cannot chain
    (SURVEY.md §2.2); extends the ranking family's global→weighted→
    personalized ladder with the TEMPORAL axis (round-9 handoff's
    gap-checked direction, built at the full bar).
    """
    return _weekly_rwr(spark, sf_dir).orderBy("week", F.desc("rank"), F.asc("node"))


# ------------------------------------- multi-source harmonic centrality --

#: hub cohort size and hop horizon for the harmonic face: 4 sources,
#: 3 hops — at horizon H the per-hop reach terms 1/d are {1, 1/2, 1/3},
#: summed EXACTLY as integer sixths (6/d in {6, 3, 2}) and divided by
#: 6.0 once at the end, so the score is order-free in both engines.
_HC_SOURCES = 4
_HC_HOPS = 3


def _harmonic_oracle() -> str:
    """Unrolled-hop DuckDB oracle: the uniform trade-graph CTEs, the
    top-|S| degree cohort (outdeg DESC, node ASC — a total order), one
    DISTINCT reach set per hop, MIN(d) over the level union, and the
    exact integer-sixths harmonic sum."""
    return f"""
    WITH {_DUCK_TRADE},
    seeds AS (SELECT src AS seed FROM deg
              ORDER BY outdeg DESC, src LIMIT {_HC_SOURCES}),
    r1 AS (SELECT DISTINCT s.seed, e.dst AS node
           FROM seeds s JOIN edges e ON s.seed = e.src),
    r2 AS (SELECT DISTINCT r.seed, e.dst AS node
           FROM r1 r JOIN edges e ON r.node = e.src),
    r3 AS (SELECT DISTINCT r.seed, e.dst AS node
           FROM r2 r JOIN edges e ON r.node = e.src),
    dist AS (
        SELECT seed, node, MIN(d) AS d FROM (
            SELECT seed, node, 1 AS d FROM r1
            UNION ALL SELECT seed, node, 2 FROM r2
            UNION ALL SELECT seed, node, 3 FROM r3
        ) lv
        WHERE node <> seed
        GROUP BY seed, node
    )
    SELECT node,
           CAST(SUM(CASE WHEN d = 1 THEN 6 WHEN d = 2 THEN 3 ELSE 2 END)
                AS DOUBLE) / 6.0 AS harmonic,
           COUNT(*) AS n_reached
    FROM dist
    GROUP BY node
    ORDER BY harmonic DESC, node
    LIMIT 20
    """


@query(
    "harmonic_centrality_hubs",
    oracle=_harmonic_oracle(),
    tags=("graph", "iterative", "join", "aggregation"),
)
def harmonic_centrality_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-SOURCE bounded-horizon harmonic centrality (Boldi & Vigna,
    "Axioms for Centrality", 2014) over the trade graph: from the
    top-4-degree hub cohort, run ALL four BFS frontiers simultaneously —
    the frontier carries (seed, node) pairs, so one join per hop
    advances every source at once instead of looping per source (the
    single-source ``bfs_hops_from_hub`` shape multiplied by a seed
    dimension, not by stages). Each node's score sums 1/d(seed, node)
    over the cohort within 3 hops — "how tightly is this entity held by
    the hub cohort" — the proximity ranking behind influence cohorts
    and account-coverage dashboards. Top-20 (score desc, node asc).

    Determinism: at horizon 3 the only 1/d terms are {{1, 1/2, 1/3}};
    they are summed as exact integer SIXTHS (6, 3, 2) and divided by
    6.0 once, so the score never depends on double addition order —
    the same exactness trick as the quantized bigint rank sums.

    100 TB shape: :func:`bfs_levels` with ``group=("seed",)`` over the
    shared checkpointed src-partitioned edge list (reused from the
    PageRank family's `_uniform_trade_graph`): the frontier state is
    O(|S| x |nodes|) rows (|S| = 4 literal), each hop is ONE join plus
    a distinct plus one anti-join against the (seed, node) level set,
    and per-hop shuffled bytes are O(|S| x frontier-adjacent edges),
    horizon fixed at 3. Seeds come from a TakeOrdered over the degree
    frame (O(1) rows), never a collect.

    Reference parity: iterative multi-round MapReduce the reference
    cannot chain (SURVEY.md §2.2); extends the graph family with the
    multi-source/centrality member (round-10 growth).
    """
    edges, deg, _ = _uniform_trade_graph(spark, sf_dir)
    seeds = _top_degree(deg, _HC_SOURCES).select(F.col("node").alias("seed"), "node")
    dist = bfs_levels(edges, seeds, _HC_HOPS, group=("seed",)).filter(F.col("hops") >= 1)
    d = F.col("hops")
    sixths = F.when(d == 1, F.lit(6)).when(d == 2, F.lit(3)).otherwise(F.lit(2))
    return (
        dist.groupBy("node")
        .agg(
            (F.sum(sixths).cast("double") / F.lit(6.0)).alias("harmonic"),
            F.count("*").alias("n_reached"),
        )
        .orderBy(F.desc("harmonic"), F.asc("node"))
        .limit(20)
    )


def rwr_weekly_deltas_frame(ranks: DataFrame) -> DataFrame:
    """Week-over-week RWR DRIFT kernel: for each node, the rank
    trajectory across consecutive weeks becomes (rank, prev_rank,
    delta) via ONE node-keyed lag window — the funnel-drift alarm
    surface ("purchase fell 0.04 in signup-proximity this week") that
    turns the windowed RWR from a dashboard into a detector.

    Weeks with no prior observation carry NULL prev/delta (a node can
    enter or leave a week's graph); the delta is a plain IEEE double
    subtraction of the two round-12 ranks, so both engines agree
    bit-for-bit (property-pinned against a pandas groupby-shift in
    tests/test_property_blocks.py). Scale shape: one exchange keyed by
    node over the O(weeks × |types|) rank rows — strictly cheaper than
    the RWR that produced them.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy("week")
    return (
        ranks.withColumn("prev_rank", F.lag("rank").over(w))
        .withColumn("delta", F.col("rank") - F.col("prev_rank"))
        .select("week", "node", "rank", "prev_rank", "delta")
    )


@query(
    "rwr_weekly_deltas",
    oracle=_rwr_weekly_oracle(with_deltas=True),
    tags=("graph", "iterative", "window", "events", "personalized", "drift"),
)
def rwr_weekly_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week RWR drift over the events graph: the windowed
    RWR's visible rank rows (round-12, positive — exactly
    :func:`rwr_weekly_event_types`' row set) composed with
    :func:`rwr_weekly_deltas_frame`'s node-keyed lag window, so every
    event type carries (rank, prev_rank, delta) per week — the drift
    detector the dashboard face feeds. First observations carry NULL
    prev/delta; the oracle shares the full unrolled-CTE chain and
    appends the identical LAG window.

    100 TB shape: the RWR's shape (one user-keyed window exchange +
    five quantized bigint join+agg rounds keyed by (week, dst)) plus
    ONE node-keyed exchange over the O(weeks × |types|) rank rows —
    the lag adds rows' worth of shuffle, never stages. Nothing
    collected, nothing broadcast.

    Reference parity: beyond the reference (iterative + windowed
    analytics it cannot chain, SURVEY.md §2.2); completes the temporal
    RWR pair prescribed by the round-10 handoff.
    """
    return rwr_weekly_deltas_frame(_weekly_rwr(spark, sf_dir)).orderBy("week", "node")
