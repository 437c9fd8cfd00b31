"""Graph analytics over relational data: fixed-iteration weighted
PageRank on the part co-occurrence graph (parts linked when ordered
together, edge weight = co-order count).

Iterative algorithms join the oracle-checked suite by fixing the
iteration count and quantizing between rounds: each round's rank is
floor-quantized at 1e-9 and each edge contribution at 1e-12 before an
exact DECIMAL sum, so both engines walk bit-identical states and the
SQL oracle is the same recursion unrolled (the dedup/components.py
kernel is the one run-to-fixpoint loop; this module pins the
deterministic fixed-round shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark import catalog
from miba_2023_capstone_rb_nlp_spark.functions.numeric import fixed
from miba_2023_capstone_rb_nlp_spark.suite import persist_tracked, register

DAMPING = 0.85
ROUNDS = 3

# The recursion unrolled: edges/norms once, then ROUNDS copies of the
# same contribution-sum step. `norm` is computed ONCE as w / w_out and
# reused so both engines multiply pr * norm in the identical order.
_PAGERANK_ORACLE = f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pair AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
edges AS (
  SELECT p1 AS src, p2 AS dst, w FROM pair
  UNION ALL
  SELECT p2 AS src, p1 AS dst, w FROM pair
),
outw AS (SELECT src, sum(w) AS w_out FROM edges GROUP BY src),
norme AS (
  SELECT e.src, e.dst, e.w / CAST(outw.w_out AS DOUBLE) AS norm
  FROM edges e JOIN outw USING (src)
),
nn AS (SELECT count(DISTINCT src) AS n FROM edges),
r0 AS (
  SELECT DISTINCT src AS node,
         floor(CAST(1.0 AS DOUBLE) / n * 1000000000.0)
           / 1000000000.0 AS pr
  FROM edges, nn
),
r1 AS (
  SELECT norme.dst AS node,
         floor(((CAST(0.15 AS DOUBLE)) / n
                 + CAST({DAMPING} AS DOUBLE) * CAST(sum(
           CAST(floor(r0.pr * norme.norm * 1e12) / 1e12
                AS DECIMAL(18,12))) AS DOUBLE)) * 1000000000.0)
           / 1000000000.0 AS pr
  FROM norme JOIN r0 ON r0.node = norme.src, nn
  GROUP BY norme.dst, n
),
r2 AS (
  SELECT norme.dst AS node,
         floor(((CAST(0.15 AS DOUBLE)) / n
                 + CAST({DAMPING} AS DOUBLE) * CAST(sum(
           CAST(floor(r1.pr * norme.norm * 1e12) / 1e12
                AS DECIMAL(18,12))) AS DOUBLE)) * 1000000000.0)
           / 1000000000.0 AS pr
  FROM norme JOIN r1 ON r1.node = norme.src, nn
  GROUP BY norme.dst, n
),
r3 AS (
  SELECT norme.dst AS node,
         floor(((CAST(0.15 AS DOUBLE)) / n
                 + CAST({DAMPING} AS DOUBLE) * CAST(sum(
           CAST(floor(r2.pr * norme.norm * 1e12) / 1e12
                AS DECIMAL(18,12))) AS DOUBLE)) * 1000000000.0)
           / 1000000000.0 AS pr
  FROM norme JOIN r2 ON r2.node = norme.src, nn
  GROUP BY norme.dst, n
)
SELECT node AS part, pr FROM r3
"""


@register("part_pagerank", oracle=_PAGERANK_ORACLE)
def q_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (d=0.85, 3 rounds) over co-ordered parts.

    Plan: the normalized edge list is built ONCE and persisted (the
    basket self-join is l_orderkey-bounded, see part_affinity_topk);
    each round is edges ⋈ broadcast(ranks) → per-dst agg — the rank
    vector is |V| rows, broadcast back so the edge table never
    re-shuffles on src (at a |V| too large to broadcast the same loop
    runs as a co-partitioned shuffle join on src; the round structure
    is unchanged). Isolated parts (never co-ordered) have no edges
    and are excluded — the standard dangling-node convention.
    """

    li = catalog.table(spark, sf_dir, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct()
    a = basket.alias("a")
    b = basket.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = pair.select(
        F.col("p1").alias("src"), F.col("p2").alias("dst"), "w"
    ).unionAll(pair.select(F.col("p2").alias("src"), F.col("p1").alias("dst"), "w"))
    outw = edges.groupBy("src").agg(F.sum("w").alias("w_out"))
    norme = (
        edges.join(outw, "src")
        .select(
            "src",
            "dst",
            (F.col("w") / F.col("w_out").cast("double")).alias("norm"),
        )
    )
    norme = persist_tracked(norme)
    # per-round localCheckpoint (the components.py device): without
    # it the ROUNDS aggregates nest into one plan where every round's
    # broadcast subtree re-plans all earlier rounds — analysis cost
    # and stage count grow per round instead of staying O(1)
    nodes = norme.select("src").distinct().localCheckpoint(eager=False)
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        F.col("src").alias("node"),
        fixed(F.lit(1.0) / F.col("n"), 9).alias("pr"),
    )
    # Contribution sums ride UNSCALED LONGS (r15, guide §2.2 "narrower
    # types"): the old shape summed decimal(18,12) values, whose
    # decimal(28,12) sum buffer falls off the long-backed fast path —
    # a BigDecimal read-modify-write per EDGE per round. The quantized
    # contribution floor(pr·norm·1e12) is the exact same integer k the
    # decimal held (fixed() floors first, the decimal cast merely
    # re-scales it), and per-dst Σk ≤ Σ_src pr·1e12 ≈ 1e12 at ANY
    # graph size (PageRank mass invariant: Σpr ≈ 1) — far inside both
    # the long range and double's 2^53 exact-integer window, so
    # (double)Σk / 1e12 and CAST(decimal Σk·10⁻¹² AS DOUBLE) are the
    # same correctly-rounded double. Bit-identical pr, no BigDecimal
    # in the round loop.
    for _ in range(ROUNDS):
        contrib = norme.join(
            F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
        ).select(
            "dst",
            F.floor(
                F.col("pr") * F.col("norm") * F.lit(float(10**12))
            ).alias("kq"),
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(
                (F.sum("kq").cast("double") / F.lit(float(10**12))).alias("s")
            )
            .crossJoin(F.broadcast(nn))
            .select(
                F.col("dst").alias("node"),
                fixed(
                    F.lit(0.15) / F.col("n") + DAMPING * F.col("s"),
                    9,
                ).alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(F.col("node").alias("part"), "pr")


# --- triangle counting (node-iterator++ with degree orientation) -----
# The third graph primitive after PageRank and connected components:
# per-part triangle participation in the co-order graph. Edges keep
# only support >= 2 pairs (co-ordered at least twice) — the standard
# significance prune that also keeps the graph sparse. Registered
# round 6 with local parity; window debut planned for round 7.
_TRI_SUPPORT = 2

_TRIANGLES_ORACLE = f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_TRI_SUPPORT}
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT part, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
  SELECT x AS part FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
GROUP BY part
"""


@register("part_triangle_counts", oracle=_TRIANGLES_ORACLE)
def q_part_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the support-pruned co-order
    graph.

    Plan (Cohen / node-iterator++): every undirected edge is ORIENTED
    from its lower-(degree, id) endpoint to the higher one, wedges
    enumerate only pairs of OUT-neighbors, and the closing edge
    resolves with one semi-join against the canonical edge set. The
    orientation is the scale lever: out-degree is bounded by
    O(sqrt(E)) regardless of hubs, so wedge count is O(E^1.5) instead
    of Σdeg² — a hub with a million neighbors contributes NOTHING to
    wedge fan-out because all its edges point inward. The oracle
    enumerates the same triangle set by id order (a<b<c); both
    strategies find each triangle exactly once, so per-part counts
    agree. Support pruning and the affinity basket guard
    (relational.py) bound the upstream pair aggregate."""
    from miba_2023_capstone_rb_nlp_spark.suite.relational import (
        guard_max_basket,
    )

    li = catalog.table(spark, sf_dir, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct()
    guard_max_basket(basket, "part_triangle_counts", sf_dir=sf_dir)
    a, b = basket.alias("a"), basket.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("ea"), F.col("b.l_partkey").alias("eb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _TRI_SUPPORT)
        .select("ea", "eb")
    )
    e = persist_tracked(e)
    return triangle_counts(e)


def triangle_counts(e: DataFrame) -> DataFrame:
    """Per-node triangle counts from a canonical undirected edge set
    ``(ea < eb, distinct)`` — the node-iterator++ kernel, factored so
    tests can feed arbitrary random graphs
    (tests/test_graph_kernels.py cross-checks against a pure-Python
    enumeration)."""
    # degrees over the undirected edge set (one explode + count)
    deg = (
        e.select(F.explode(F.array("ea", "eb")).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("p").alias("ea"), F.col("d").alias("d_a"))
    db = deg.select(F.col("p").alias("eb"), F.col("d").alias("d_b"))
    # orient low-(degree, id) → high; the degree table is |V|-bounded
    # and broadcasts
    oriented = (
        e.join(F.broadcast(da), "ea")
        .join(F.broadcast(db), "eb")
        .select(
            F.when(
                (F.col("d_a") < F.col("d_b"))
                | ((F.col("d_a") == F.col("d_b")) & (F.col("ea") < F.col("eb"))),
                F.struct(F.col("ea").alias("src"), F.col("eb").alias("dst")),
            )
            .otherwise(
                F.struct(F.col("eb").alias("src"), F.col("ea").alias("dst"))
            )
            .alias("o")
        )
        .select("o.src", "o.dst")
    )
    w1 = oriented.select(F.col("src"), F.col("dst").alias("v"))
    w2 = oriented.select(F.col("src"), F.col("dst").alias("w"))
    # SHUFFLE_HASH on both joins (r15, guide §3.2): sort-merge sorted
    # the O(E^1.5) wedge stream (and both self-join sides) only to
    # probe |E|-bounded build sides. A shuffled-hash join streams the
    # wedges unsorted and builds on the bounded side — the self-join's
    # build partition is the oriented edge set (out-degree already
    # O(sqrt E) by the orientation), the semi join's is the canonical
    # edge set. The hint is consumed at strategy choice, so the two
    # identical w1/w2 exchange subtrees still stage-dedup at runtime.
    wedges = w1.join(w2.hint("SHUFFLE_HASH"), "src").filter(
        F.col("v") < F.col("w")
    )
    closing = e.select(
        F.col("ea").alias("v"), F.col("eb").alias("w")
    )
    tri = wedges.join(closing.hint("SHUFFLE_HASH"), ["v", "w"], "left_semi")
    return (
        tri.select(F.explode(F.array("src", "v", "w")).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# --- recursive CTE: bounded-depth reachability -----------------------
# Spark 4's WITH RECURSIVE (SPARK-24497) executes as an iterative
# UnionLoop: each round distributes the frontier ⋈ edges join, so the
# traversal is a sequence of ordinary shuffle (or broadcast) joins —
# the SQL-standard way to express bounded-depth graph walks without
# hand-rolling the loop. The SQL string IS the oracle string
# (byte-identical text, two engines, hash-equal results), mirroring
# sql_interface_segment_revenue.
_TRADE_HOPS_SQL = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
),
reach(node, hop) AS (
  SELECT src AS node, 0 AS hop FROM edges WHERE src = 0
  UNION ALL
  SELECT e.dst AS node, r.hop + 1 AS hop
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.hop < 3
)
SELECT CAST(node AS BIGINT) AS nation, CAST(min(hop) AS INT) AS hops,
       CAST(count(*) AS BIGINT) AS n_paths
FROM reach GROUP BY node
"""


# Spark side: the recursion references its join partner once per
# UnionLoop ITERATION, and a plain CTE would re-run the 3-join fact
# collapse every round — so the edge table is materialized (persisted
# temp view) before the loop and only the recursion lives in SQL. The
# oracle keeps the single inline-CTE formulation.
_TRADE_HOPS_RECURSION = """
WITH RECURSIVE reach(node, hop) AS (
  SELECT src AS node, 0 AS hop FROM trade_edges WHERE src = 0
  UNION ALL
  SELECT e.dst AS node, r.hop + 1 AS hop
  FROM reach r JOIN trade_edges e ON e.src = r.node
  WHERE r.hop < 3
)
SELECT CAST(node AS BIGINT) AS nation, CAST(min(hop) AS INT) AS hops,
       CAST(count(*) AS BIGINT) AS n_paths
FROM reach GROUP BY node
"""


@register("trade_hops_recursive", oracle=_TRADE_HOPS_SQL)
def q_trade_hops_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS over the nation-level trade graph via WITH RECURSIVE:
    nations reachable from nation 0 in ≤3 buyer→supplier hops, with
    min-hop distance and path multiplicity.

    Plan: the fact tables collapse to a ≤25-node, ≤600-edge DISTINCT
    nation graph which is PERSISTED before the recursion starts — each
    UnionLoop round joins the frontier against the in-memory edge
    table, never re-running the 3-join fact collapse (a plain CTE
    would: the recursive body re-evaluates its join partner every
    iteration). Recursion cost is therefore bounded by the DIMENSION's
    size (≤25³ path rows at hop cap 3) no matter how large the facts
    grow. UNION ALL recursion enumerates paths, not nodes — correct
    here because the hop cap bounds the blowup and min(hop)/count(*)
    want multiplicity; an unbounded reachability over a large vertex
    set belongs to the frontier-dedup'ing connected-components kernel
    (dedup/components.py), not a recursive CTE. Reference has no graph
    surface; this pins the engine's SQL-standard recursion."""
    li = catalog.table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = catalog.table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = catalog.table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = catalog.table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .distinct()
    )
    persist_tracked(edges).createOrReplaceTempView("trade_edges")
    return spark.sql(_TRADE_HOPS_RECURSION)
