"""Relational core (SURVEY §2.2-2.7): joins, aggregations, windows,
top-k, set ops — expressed as lazy DataFrame plans so Catalyst gets
pushdown/pruning/join-selection for free.

Scale notes: every query here shuffles only on its aggregation/join
keys; dimension tables (region/nation/customer at TPC-H ratios) are
broadcast; no collect() anywhere. Money aggregates use exact DECIMAL
sums (order-independent → engine-deterministic, see functions/numeric).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark import catalog
from miba_2023_capstone_rb_nlp_spark.functions.numeric import (
    davg,
    dec,
    dsum,
    fixed,
    sql_davg,
    sql_dsum,
    sql_fixed,
)
from miba_2023_capstone_rb_nlp_spark.session import broadcast_limit_rows
from miba_2023_capstone_rb_nlp_spark.suite import register


def _t(spark, sf_dir, name):
    return catalog.table(spark, sf_dir, name)


# --- A1-A8 analog: grouped aggregation battery (TPC-H Q1 shape) -----
_DISC = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
_CHARGE = f"({_DISC}) * (1 + CAST(l_tax AS DECIMAL(4,2)))"
_PRICING_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')}                       AS sum_qty,
       {sql_dsum('l_extendedprice')}                  AS sum_base_price,
       CAST(sum({_DISC}) AS DOUBLE)                   AS sum_disc_price,
       CAST(sum({_CHARGE}) AS DOUBLE)                 AS sum_charge,
       {sql_davg('l_quantity')}                       AS avg_qty,
       {sql_davg('l_extendedprice')}                  AS avg_price,
       {sql_davg('l_discount')}                       AS avg_disc,
       count(*)                                       AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", oracle=_PRICING_ORACLE)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan → single hash aggregate (map-side partial agg);
    timestamp predicate pushed down to the parquet scan.

    r16 (guide §1.2 per-task work): l_discount and l_tax take ~11×9
    discrete values, so the row-level decimal products regroup
    exactly — aggregate by (flag, status, d, t) first (≤ ~600
    subgroups; the per-row kernel is compact decimal ADDS and
    counts), then derive sum(ep·(1−d)) = (1−d)·Σep,
    sum(ep·(1−d)·(1+t)) = (1−d)·Σep·(1+t) and sum(disc) = d·count
    per subgroup and fold the subgroups. BigDecimal multiplies (the
    non-compact path — products over precision 18 never take Spark's
    long fast path) drop from 2·rows to 2·subgroups. Null-robust: a
    null d or t nulls its subgroup's derived product, which the
    outer sum skips exactly as the original row-level sum skipped
    those rows' null products. Every intermediate is value-exact, so
    the double casts — and the oracle hash — are bit-identical."""
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1)
    sub = (
        li.filter(
            F.col("l_shipdate")
            <= F.lit("1998-09-02 00:00:00").cast("timestamp")
        )
        .groupBy(
            "l_returnflag",
            "l_linestatus",
            dec("l_discount", 2, 4).alias("d"),
            dec("l_tax", 2, 4).alias("t"),
        )
        .agg(
            F.sum(dec("l_quantity", 2, 18)).alias("qsum"),
            F.sum(dec("l_extendedprice", 2, 18)).alias("epsum"),
            F.count("l_quantity").alias("cq"),
            F.count("l_extendedprice").alias("cep"),
            F.count("l_discount").alias("cd"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    disc_sub = (one - F.col("d")) * F.col("epsum")
    charge_sub = disc_sub * (one + F.col("t"))
    return sub.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qsum").cast("double").alias("sum_qty"),
        F.sum("epsum").cast("double").alias("sum_base_price"),
        F.sum(disc_sub).cast("double").alias("sum_disc_price"),
        F.sum(charge_sub).cast("double").alias("sum_charge"),
        fixed(F.sum("qsum").cast("double") / F.sum("cq"), 4).alias(
            "avg_qty"
        ),
        fixed(F.sum("epsum").cast("double") / F.sum("cep"), 4).alias(
            "avg_price"
        ),
        fixed(
            F.sum(F.col("d") * F.col("cd")).cast("double") / F.sum("cd"), 4
        ).alias("avg_disc"),
        F.sum("cnt").alias("count_order"),
    )


# --- J1 + multi-join + agg: revenue per region ----------------------
_REGION_REVENUE_ORACLE = f"""
SELECT r.r_name AS region, n.n_name AS nation,
       CAST(sum({_DISC}) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey  = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
"""


@register("region_revenue", oracle=_REGION_REVENUE_ORACLE)
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact lineitem⋈orders shuffles on orderkey; the
    customer/nation/region dims are broadcast (no extra shuffle).

    r16 (guide §1.2 per-task work): l_discount takes ~11 discrete
    values, so sum(ep·(1−d)) regroups exactly as Σ_d (1−d)·Σ(ep|d) —
    the per-row kernel drops from a BigDecimal multiply (decimal
    products over precision 18 never take Spark's compact-long fast
    path) to a compact decimal ADD, and the multiplies run once per
    (region, nation, discount) group (≤ a few hundred rows). The
    regroup key is the same decimal cast the formula used, so the
    rational value — and its double cast — is bit-identical."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n, r = _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    per_disc = joined.groupBy(
        F.col("r_name").alias("region"),
        F.col("n_name").alias("nation"),
        dec("l_discount", 2, 4).alias("disc"),
    ).agg(
        F.sum(dec("l_extendedprice", 2, 12)).alias("ep"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return per_disc.groupBy("region", "nation").agg(
        F.sum(F.col("ep") * (F.lit(1) - F.col("disc")))
        .cast("double")
        .alias("revenue"),
        F.sum("cnt").alias("n_items"),
    )


# --- W-family: rank top-k per group (L2/L3 top-k) -------------------
_TOP_ORDERS_ORACLE = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice, rk FROM (
  SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
         CAST(row_number() OVER (PARTITION BY c.c_custkey
                            ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS INTEGER) AS rk
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
) WHERE rk <= 3
"""


@register("top_orders_per_customer", oracle=_TOP_ORDERS_ORACLE)
def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + one shuffle on custkey for the window."""
    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


# --- semi-join (Q4 shape): priority count of orders with any
#     qualifying lineitem ------------------------------------------
_PRIORITY_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 25)
GROUP BY o_orderpriority
"""


@register("order_priority_semijoin", oracle=_PRIORITY_ORACLE)
def q_order_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left_semi join (never materializes the probe side)."""
    o, li = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    o_f = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    qualifying = li.filter(F.col("l_quantity") > 25)
    return (
        o_f.join(qualifying, o_f["o_orderkey"] == qualifying["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --- anti-join: customers with no orders ---------------------------
_NO_ORDERS_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


@register("customers_without_orders", oracle=_NO_ORDERS_ORACLE)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --- set ops: INTERSECT / EXCEPT (U-family additions) ---------------
_NATION_SETOPS_ORACLE = """
SELECT n_name, 'both' AS side FROM (
  SELECT n.n_name FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  INTERSECT
  SELECT n.n_name FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
)
UNION ALL
SELECT n_name, 'customer_only' AS side FROM (
  SELECT n.n_name FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  EXCEPT
  SELECT n.n_name FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
)
"""


@register("nation_set_ops", oracle=_NATION_SETOPS_ORACLE)
def q_nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, s = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cust_nations = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select(
        "n_name"
    )
    supp_nations = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "n_name"
    )
    both = cust_nations.intersect(supp_nations).withColumn("side", F.lit("both"))
    cust_only = cust_nations.subtract(supp_nations).withColumn(
        "side", F.lit("customer_only")
    )
    return both.unionByName(cust_only)


# --- grouped-transform windows (A6/A7 exact shape) ------------------
_AVG_W = (
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS DOUBLE)"
    " / count(*) OVER (PARTITION BY o_custkey)"
)
_ORDER_ENRICH_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_totalprice,
       count(*) OVER (PARTITION BY o_custkey) AS cust_order_count,
       {sql_fixed(_AVG_W, 4)} AS cust_avg_price,
       {sql_fixed(f'o_totalprice - ({sql_fixed(_AVG_W, 4)})', 4)} AS price_delta
FROM orders
"""


@register("order_window_enrich", oracle=_ORDER_ENRICH_ORACLE)
def q_order_window_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (transform count) + A7 (transform mean) over full partition
    frames — single shuffle on o_custkey serves all windows."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    avg_price = fixed(
        F.sum(dec("o_totalprice", 2)).over(w).cast("double")
        / F.count(F.lit(1)).over(w),
        4,
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("cust_order_count"),
        avg_price.alias("cust_avg_price"),
        fixed(F.col("o_totalprice") - avg_price, 4).alias("price_delta"),
    )


# --- A2 argmax (idxmax analog): deterministic rank-1 ---------------
_ARGMAX_ORACLE = """
SELECT l_returnflag, l_orderkey AS top_orderkey, l_extendedprice AS max_price
FROM (
  SELECT l_returnflag, l_orderkey, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey ASC,
                                     l_linenumber ASC) AS rk
  FROM lineitem
) WHERE rk = 1
"""


@register("argmax_per_flag", oracle=_ARGMAX_ORACLE)
def q_argmax_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (idxmax) — deterministic argmax via struct-max aggregation:
    max(struct(price, -orderkey, -linenumber)) picks max price with
    min-key tie-breaks in ONE map-side-partial aggregation. The
    rank-1-window formulation is semantically identical but must
    sort every row into 3 window partitions (a full-skew sort at
    100 TB); the struct-max reduces map-side to one row per partition
    per flag. max_by alone is unusable: its tie choice is undefined."""
    li = _t(spark, sf_dir, "lineitem")
    m = F.max(
        F.struct(
            F.col("l_extendedprice").alias("p"),
            (-F.col("l_orderkey")).alias("nk"),
            (-F.col("l_linenumber")).alias("nl"),
        )
    ).alias("m")
    return (
        li.groupBy("l_returnflag")
        .agg(m)
        .select(
            "l_returnflag",
            (-F.col("m.nk")).alias("top_orderkey"),
            F.col("m.p").alias("max_price"),
        )
    )


# --- grouping sets exposure (SURVEY §2.4 "not present" additions) ---
_ROLLUP_ORACLE = f"""
SELECT o_orderpriority, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_dsum('o_totalprice')} AS revenue
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


@register("order_rollup_revenue", oracle=_ROLLUP_ORACLE)
def q_order_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (priority, status) with exact decimal sums: grouping
    sets are a single pass (Expand + one hash aggregate) — no
    per-level re-scan at 100 TB."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


_APPROX_DISTINCT_ORACLE = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       true AS est_within_3sd
FROM lineitem GROUP BY l_returnflag
"""


@register("approx_distinct_parts", oracle=_APPROX_DISTINCT_ORACLE)
def q_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) error-bound-oracled (VERDICT r10
    #3): sketch estimates differ across engines, so the entry pairs
    the estimate with its exact-distinct twin IN the same aggregate
    and emits (a) ``exact_parts``, which DuckDB recomputes exactly,
    and (b) ``est_within_3sd`` — the HLL++ estimate landing within
    3×rsd (rsd=0.02 → ±6%) of the exact count, the documented
    relative-standard-deviation contract, pinned by the oracle as
    constant-true. A sketch regression (merge bug, wrong register
    width) lands outside the band → red hash row, where the old
    rows-only form could never fail."""
    li = _t(spark, sf_dir, "lineitem")
    # Shape (r15, guide §2.3): dedup (flag, partkey) FIRST, then one
    # groupBy(flag) computing the HLL++ sketch and the exact count over
    # the deduped rows. Mixing approx_count_distinct with countDistinct
    # in one aggregate made Spark key the partial aggregate by
    # (flag, partkey) with the 410-word HLL buffer riding along — one
    # 3.3 KB sketch allocated and SHUFFLED per distinct pair (~200 MB
    # at sf0.1; a sketch per distinct key at 100 TB). HLL insertion is
    # idempotent, so sketching each distinct partkey once yields
    # bit-identical registers → bit-identical estimate; count over the
    # deduped rows IS count(DISTINCT). The dedup exchange now carries
    # two bigints, and only 3 sketch rows per map task move.
    agg = (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias(
                "approx_parts"
            ),
            F.count("l_partkey").alias("exact_parts"),
        )
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= F.lit(0.06) * F.col("exact_parts")
        ).alias("est_within_3sd"),
    )


# --- skew mitigation (operators/skew.py) — result-invariance proofs --
_SALTED_JOIN_ORACLE = f"""
SELECT n.n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_customers,
       {sql_dsum('c.c_acctbal')} AS total_acctbal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@register("salted_join_nation_customers", oracle=_SALTED_JOIN_ORACLE)
def q_salted_join_nation_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join (hot-key spread over 8 sub-keys) must produce the
    EXACT result of the plain join — the oracle is the plain SQL."""
    from miba_2023_capstone_rb_nlp_spark.operators.skew import salted_join

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").withColumnRenamed(
        "n_nationkey", "c_nationkey"
    )
    joined = salted_join(c, n, key="c_nationkey", n_salts=8)
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal").alias("total_acctbal"),
    )


_SALTED_AGG_ORACLE = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_dsum('o_totalprice')} AS revenue
FROM orders GROUP BY o_orderpriority
"""


@register("salted_agg_priority_revenue", oracle=_SALTED_AGG_ORACLE)
def q_salted_agg_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation on a low-cardinality (hot) group
    key; decimal sums make the two-stage merge exactly equal the
    one-stage plan, which the plain-SQL oracle certifies."""
    from miba_2023_capstone_rb_nlp_spark.operators.skew import salted_agg

    o = _t(spark, sf_dir, "orders").withColumn(
        "_price_dec", dec("o_totalprice", 2, 18)
    )
    out = salted_agg(
        o,
        "o_orderpriority",
        [("_price_dec", "count", "n_orders"), ("_price_dec", "sum", "revenue")],
        n_salts=8,
    )
    return out.select(
        "o_orderpriority",
        "n_orders",
        F.col("revenue").cast("double").alias("revenue"),
    )


# --- exact percentiles (A-family addition) --------------------------
_QUANTILES_ORACLE = f"""
SELECT l_returnflag,
       {sql_fixed('quantile_cont(l_extendedprice, 0.5)', 4)} AS p50,
       {sql_fixed('quantile_cont(l_extendedprice, 0.9)', 4)} AS p90,
       {sql_fixed('quantile_cont(l_extendedprice, 0.99)', 4)} AS p99
FROM lineitem GROUP BY l_returnflag
"""


@register("price_quantiles", oracle=_QUANTILES_ORACLE)
def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (order statistics — no float-sum order issues;
    Spark `percentile` and DuckDB `quantile_cont` use the same linear
    interpolation, verified bit-equal). At 100 TB prefer
    `percentile_approx` (sketch-mergeable, bounded memory) — exposed
    as approx_distinct_parts' sibling pattern; the exact form here is
    the oracle-checkable baseline."""
    li = _t(spark, sf_dir, "lineitem")
    # ONE percentile aggregate with an array argument: three separate
    # percentile() calls each buffer the full per-group value list;
    # the array form sorts/buffers once for all three order statistics.
    qs = F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))")
    return (
        li.groupBy("l_returnflag")
        .agg(qs.alias("__qs"))
        .select(
            "l_returnflag",
            fixed(F.col("__qs")[0], 4).alias("p50"),
            fixed(F.col("__qs")[1], 4).alias("p90"),
            fixed(F.col("__qs")[2], 4).alias("p99"),
        )
    )


_CUBE_ORACLE = f"""
SELECT o_orderpriority, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_dsum('o_totalprice')} AS revenue
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


@register("order_cube_revenue", oracle=_CUBE_ORACLE)
def q_order_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all 2^k grouping sets in ONE Expand + hash aggregate
    pass (no per-level re-scan)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


# --- explicit window frames + lead/lag (SURVEY §2.5 "free in Spark
# if surfaced" row — surfaced here) ----------------------------------
_FRAMES_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS moving_sum3,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_sum
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("customer_order_frames", oracle=_FRAMES_ORACLE)
def q_customer_order_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag + explicit ROWS frames (sliding 3-row sum, running
    cumulative sum) per customer order history. One shuffle on
    o_custkey serves all five window functions (same partitioning +
    ordering → a single Window physical operator). Decimal sums keep
    the frame aggregates exact and order-independent."""
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.row_number().over(w).cast("long").alias("rn"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.sum(price_dec).over(w.rowsBetween(-2, 0)).cast("double").alias("moving_sum3"),
        F.sum(price_dec)
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast("double")
        .alias("running_sum"),
    )


# --- MERGE INTO semantics (upsert via one full-outer join) ----------
# A warehouse engine needs MERGE; without a transactional table
# format the batch-equivalent is: base FULL OUTER changes on the key,
# coalesce changed columns, classify the action. The changes side is
# fabricated deterministically from orders (every 7th key updated,
# every 13th re-keyed as an insert) so all three actions occur.
_MERGE_ORACLE = """
WITH upd AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, 'X-UPDATED' AS o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0
),
ins AS (
  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
         o_orderstatus, o_totalprice, o_orderdate,
         'X-NEW' AS o_orderpriority
  FROM orders WHERE o_orderkey % 13 = 0
),
changes AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
merged AS (
  SELECT coalesce(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
         coalesce(c.o_totalprice, b.o_totalprice) AS o_totalprice,
         coalesce(c.o_orderpriority, b.o_orderpriority) AS o_orderpriority,
         CASE WHEN b.o_custkey IS NULL THEN 'insert'
              WHEN c.o_custkey IS NULL THEN 'keep'
              ELSE 'update' END AS action
  FROM orders b FULL OUTER JOIN changes c USING (o_orderkey)
)
SELECT o_orderpriority, action, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM merged GROUP BY o_orderpriority, action
"""


def _merge_changes(base: DataFrame) -> DataFrame:
    """The deterministic changes feed both MERGE entries apply."""
    upd = base.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_orderpriority", F.lit("X-UPDATED")
    )
    ins = (
        base.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 100000000)
        .withColumn("o_orderpriority", F.lit("X-NEW"))
    )
    return upd.unionByName(ins)


def _merge_fingerprint(base: DataFrame, changes: DataFrame) -> DataFrame:
    """base FULL OUTER changes on the key → action classification →
    per-(priority, action) fingerprint with exact decimal sums."""
    b, c = base.alias("b"), changes.alias("c")
    merged = b.join(c, "o_orderkey", "full_outer").select(
        F.coalesce(F.col("c.o_orderstatus"), F.col("b.o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.coalesce(F.col("c.o_totalprice"), F.col("b.o_totalprice")).alias(
            "o_totalprice"
        ),
        F.coalesce(
            F.col("c.o_orderpriority"), F.col("b.o_orderpriority")
        ).alias("o_orderpriority"),
        F.when(F.col("b.o_custkey").isNull(), F.lit("insert"))
        .when(F.col("c.o_custkey").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
        .alias("action"),
    )
    return merged.groupBy("o_orderpriority", "action").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice").alias("sum_price"),
    )


@register("orders_upsert_merge", oracle=_MERGE_ORACLE)
def q_orders_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO as a single co-partitioned full-outer join: apply an
    update+insert changes feed to orders, classify every row as
    insert/update/keep, fingerprint the merged table per
    (priority, action) with exact decimal sums.

    Scale: a full-outer join can never broadcast (unmatched rows must
    surface from BOTH sides), so the base shuffles on the merge key
    once per merge — at 100 TB you bucket base AND changes by the key
    at rest so neither re-shuffles, which is exactly what
    Delta/Iceberg merge does under the hood. That layout is not just
    documented: orders_merge_bucketed below EXECUTES it (both sides
    written bucketed by the merge key, exchange-free join pinned by
    tests/test_plans.py)."""
    base = _t(spark, sf_dir, "orders")
    return _merge_fingerprint(base, _merge_changes(base))


_MERGE_BUCKETS = 8


def ensure_merge_layout(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> tuple[str, str]:
    """Materialize base+changes bucketed+sorted by the merge key and
    return the two table names. Table names and paths are keyed by
    scale factor so concurrent sessions / scale factors never clobber
    each other (ADVICE r6 #4). Unless ``force``, a layout whose
    source fingerprint still matches is REUSED: on-disk files are
    kept, and a fresh session merely re-registers the bucketed table
    over them (CREATE TABLE ... CLUSTERED BY ... LOCATION) — the
    production posture, where the 100 TB base is bucketed once at
    ingest and never rewritten per merge."""
    import os

    from miba_2023_capstone_rb_nlp_spark import catalog as cat

    import hashlib

    sf = cat.sf_name(sf_dir)
    root = cat.warehouse_dir("merge_bucketed", sf)
    base = _t(spark, sf_dir, "orders")
    names = (f"mrg_base_bkt_{sf}", f"mrg_changes_bkt_{sf}")
    # the stamp must invalidate on ANYTHING that shaped the files,
    # not just the source data: bucket count (declared metadata must
    # match the physical mod-N layout or the exchange-free join pairs
    # wrong buckets), the written schema, and a version bumped when
    # the _merge_changes derivation changes
    layout_spec = (
        f"|buckets={_MERGE_BUCKETS}"
        f"|schema={base.schema.simpleString()}"
        "|derivation=v2-one-file-per-bucket"
    )
    fp = hashlib.md5(
        (cat.source_fingerprint(sf_dir, "orders") + layout_spec).encode()
    ).hexdigest()
    for name, df in zip(names, (base, _merge_changes(base))):
        path = os.path.join(root, name)
        if not force and cat.layout_is_current(path, fp):
            if not spark.catalog.tableExists(name):
                cols = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in df.schema.fields
                )
                spark.sql(
                    f"CREATE TABLE {name} ({cols}) USING PARQUET "
                    f"CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey) "
                    f"INTO {_MERGE_BUCKETS} BUCKETS "
                    f"LOCATION '{path}'"
                )
            continue
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # ONE file per bucket (r15, guide §6): the source scan arrives
        # in arbitrary partitions, and a bucketed write from N tasks
        # leaves up to N sorted files PER BUCKET — Spark then drops
        # the SORTED BY property at read (sortedness only survives
        # single-file buckets) and the merge re-sorts both sides every
        # run. Repartitioning to exactly the bucket count by the
        # bucket key aligns write tasks with buckets, so each bucket
        # is one sorted file and the full-outer merge consumes the
        # scans with ZERO Sort nodes — the real Delta/Iceberg layout
        # contract. The repartition rides the already-paid write job.
        (
            df.repartition(_MERGE_BUCKETS, F.col("o_orderkey"))
            .write.bucketBy(_MERGE_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )
        cat.stamp_layout(path, fp)
    return names


@register("orders_merge_bucketed", oracle=_MERGE_ORACLE)
def q_orders_merge_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed-at-rest MERGE path (VERDICT r5 next-round #3):
    base AND changes are written bucketed+sorted by the merge key,
    then the same full-outer merge runs with ZERO exchanges on either
    join input — the scan feeds SortMergeJoin directly.

    This entry pays the write-side shuffle INSIDE the entry every
    invocation (``force=True`` — honest accounting of the layout
    cost); orders_merge_steady below measures the amortized
    steady-state a production table actually lives in. Same oracle as
    orders_upsert_merge — the layout must not change the answer.
    """
    b, c = ensure_merge_layout(spark, sf_dir, force=True)
    return _merge_fingerprint(spark.table(b), spark.table(c))


@register("orders_merge_steady", oracle=_MERGE_ORACLE)
def q_orders_merge_steady(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state bucketed MERGE (VERDICT r6 next-round #4): the
    layout write is skipped whenever the stamped source fingerprint
    still matches, so this entry times ONLY the recurring cost — the
    exchange-free full-outer merge over the at-rest buckets. Pairs
    with orders_merge_bucketed (which times layout+merge): together
    they bound the amortization argument the 100 TB design rests on.
    Same oracle — layout reuse must not change the answer."""
    b, c = ensure_merge_layout(spark, sf_dir, force=False)
    return _merge_fingerprint(spark.table(b), spark.table(c))


# --- item-item co-occurrence affinity (market-basket top-k) ---------
# The recommender-system staple: for every part, the top-3 parts most
# often co-ordered with it, ranked by pair count with lift as the
# strength signal. The pair generation is a self-join of lineitem on
# l_orderkey — bounded, not quadratic in the table: TPC-H baskets hold
# ≤ ~13 lines, so the join emits ≤ C(13,2) ≈ 78 pairs per order and
# scales linearly with order count. Lift's ratio is computed in a
# fixed textual order and floor-quantized (numeric.py recipe).
_AFFINITY_ORACLE = """
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT count(DISTINCT l_orderkey) AS no FROM lineitem),
part_n AS (
  SELECT l_partkey, count(*) AS pn FROM basket GROUP BY 1
),
pair AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_pair
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
sym AS (
  SELECT p1 AS part, p2 AS other, n_pair FROM pair
  UNION ALL
  SELECT p2 AS part, p1 AS other, n_pair FROM pair
),
scored AS (
  SELECT sym.part, sym.other, sym.n_pair,
         floor(CAST(sym.n_pair AS DOUBLE) * no
               / (pa.pn * CAST(pb.pn AS DOUBLE)) * 10000.0) / 10000.0
           AS lift
  FROM sym
  JOIN part_n pa ON pa.l_partkey = sym.part
  JOIN part_n pb ON pb.l_partkey = sym.other, n_orders
),
ranked AS (
  SELECT part, other, n_pair, lift,
         row_number() OVER (PARTITION BY part
                            ORDER BY n_pair DESC, other) AS rk
  FROM scored
)
SELECT part, other, n_pair, lift, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 3
"""


# pair blow-up budget for the basket self-join: C(max_basket, 2)
# summed over orders. TPC-H baskets are ≤ ~13 lines (≤ 78 pairs); a
# basket over this bound signals a non-basket-shaped corpus where the
# join output stops being linear in orders.
_AFFINITY_MAX_BASKET = 1_000


# Keyed by (source fingerprint, cap, caller, basket columns): the
# caller + column tuple is the DERIVATION token (ADVICE r7 #3) — a
# future caller building a differently-shaped basket over the same
# sf_dir must re-measure, not inherit another derivation's cached
# max. FIFO-bounded so a long-lived process sweeping many corpora
# can't grow the memo without bound.
_BASKET_GUARD_MEMO: dict[tuple[str, int, str, tuple[str, ...]], int | None] = {}
_BASKET_GUARD_MEMO_MAX = 64


def guard_max_basket(
    basket: DataFrame,
    caller: str,
    cap: int = _AFFINITY_MAX_BASKET,
    sf_dir: str | None = None,
) -> None:
    """Executable co-occurrence safety condition shared by every
    basket self-join (affinity, triangle counting): the join emits
    Σ C(|basket|, 2) rows, quadratic in the LARGEST key — one
    scalar-to-driver aggregate refuses to run past the cap BEFORE any
    shuffle starts.

    The scalar is memoized per source fingerprint (ADVICE r6 #3):
    the guard's answer only changes when the underlying lineitem
    files do, so plan-only consumers and bench reps don't re-pay a
    full scan+shuffle per invocation — the entry stays effectively
    lazy after the first check."""
    key = None
    if sf_dir is not None:
        from miba_2023_capstone_rb_nlp_spark import catalog as cat

        key = (
            cat.source_fingerprint(sf_dir, "lineitem"),
            cap,
            caller,
            tuple(sorted(basket.columns)),
        )
    if key is not None and key in _BASKET_GUARD_MEMO:
        top = _BASKET_GUARD_MEMO[key]
    else:
        top = basket.groupBy("l_orderkey").count().agg(
            F.max("count").alias("mx")
        ).collect()[0]["mx"]
        if key is not None:
            while len(_BASKET_GUARD_MEMO) >= _BASKET_GUARD_MEMO_MAX:
                _BASKET_GUARD_MEMO.pop(next(iter(_BASKET_GUARD_MEMO)))
            _BASKET_GUARD_MEMO[key] = top
    if top is not None and top > cap:
        raise ValueError(
            f"{caller}: largest basket holds {top:,} items "
            f"(> {cap:,}); the orderkey self-join would emit ~C(n,2) "
            "pairs for that key. Cap baskets first (rank-window top-N "
            "items per order) or mine pairs with a frequency-pruned "
            "FP-growth pass instead."
        )


@register("part_affinity_topk", oracle=_AFFINITY_ORACLE)
def q_part_affinity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 co-ordered parts per part with lift scores.

    Plan: distinct (order, part) baskets → ONE self-equi-join on
    l_orderkey (output linear in orders because basket sizes are
    bounded — enforced below, not assumed: one cheap per-key count
    pass refuses to run when any basket exceeds _AFFINITY_MAX_BASKET,
    the jaccard.py candidate-budget posture), pair counts with
    map-side combine, symmetrize via union (no second join), two
    broadcast joins for the per-part margins (part_n is
    |parts|-bounded), rank window partitioned by part — no global
    sort.
    """
    li = _t(spark, sf_dir, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct()
    guard_max_basket(basket, "part_affinity_topk", sf_dir=sf_dir)
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("no"))
    part_n = basket.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("pn"))
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
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    # r16 (guide §2.4): symmetrize by EXPLODING each aggregated pair
    # row into both directions — the old union-of-two-projections
    # re-executed the whole distinct+self-join+aggregate pipeline a
    # second time (the executed plan carried 7 lineitem scans; now
    # 5, with ONE pair pipeline). Map-side row doubling on the
    # already-aggregated pair frame costs nothing at any scale; a
    # full duplicate of the corpus self-join costs everything at
    # 100 TB. Local wash (1.67 vs 1.73 s min-of-5, same window) —
    # the duplicate branch used to run concurrently on idle cores.
    sym = pair.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("p1").alias("part"),
                    F.col("p2").alias("other"),
                    F.col("n_pair"),
                ),
                F.struct(
                    F.col("p2").alias("part"),
                    F.col("p1").alias("other"),
                    F.col("n_pair"),
                ),
            )
        ).alias("s")
    ).select("s.part", "s.other", "s.n_pair")
    pa = part_n.select(F.col("l_partkey").alias("part"), F.col("pn").alias("pn_a"))
    pb = part_n.select(F.col("l_partkey").alias("other"), F.col("pn").alias("pn_b"))
    scored = (
        sym.join(F.broadcast(pa), "part")
        .join(F.broadcast(pb), "other")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part",
            "other",
            "n_pair",
            fixed(
                F.col("n_pair").cast("double")
                * F.col("no")
                / (F.col("pn_a") * F.col("pn_b").cast("double")),
                4,
            ).alias("lift"),
        )
    )
    w = Window.partitionBy("part").orderBy(F.desc("n_pair"), F.asc("other"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("part", "other", "n_pair", "lift", "rk")
    )


# --- data-quality constraint report (Deequ-style validation) --------
# The pre-ingestion gate a production pipeline runs before trusting a
# batch: uniqueness, completeness, referential integrity, and range
# constraints, emitted as one (check, metric, passed) report table.
# Ratios are computed in a fixed textual order and floor-quantized
# (numeric.py recipe).
_DQ_ORACLE = """
WITH o AS (
  SELECT count(*) AS n,
         count(DISTINCT o_orderkey) AS n_keys,
         count(o_custkey) AS n_cust,
         sum(CASE WHEN o_totalprice > 0.0 THEN 1 ELSE 0 END) AS n_pos
  FROM orders
),
fk AS (
  SELECT count(*) AS n_matched
  FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer)
)
SELECT 'orderkey_unique' AS check_name,
       floor(CAST(n_keys AS DOUBLE) / n * 1000000.0) / 1000000.0
         AS metric,
       n_keys = n AS passed
FROM o
UNION ALL
SELECT 'custkey_complete',
       floor(CAST(n_cust AS DOUBLE) / n * 1000000.0) / 1000000.0,
       n_cust = n
FROM o
UNION ALL
SELECT 'custkey_fk_integrity',
       floor(CAST(n_matched AS DOUBLE) / o.n * 1000000.0) / 1000000.0,
       n_matched = o.n
FROM fk, o
UNION ALL
SELECT 'totalprice_positive',
       floor(CAST(n_pos AS DOUBLE) / n * 1000000.0) / 1000000.0,
       n_pos = n
FROM o
"""


@register("data_quality_report", oracle=_DQ_ORACLE)
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-validation report over orders: key uniqueness,
    completeness, FK integrity vs customer, value range.

    Plan: ONE aggregate pass over orders collects every row-local
    metric (count/distinct/non-null/range simultaneously — no scan
    per check); the FK check is a broadcast LEFT SEMI join counted in
    a second pass (at TPC-H ratios customer keys broadcast; a too-big
    dimension degrades to one shuffle). The report itself is a union
    of 1-row frames — constant size at any input scale.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    base = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.count("o_custkey").alias("n_cust"),
        F.sum(F.when(F.col("o_totalprice") > 0.0, 1).otherwise(0)).alias(
            "n_pos"
        ),
    )
    fk = (
        o.join(
            F.broadcast(c.select("c_custkey")),
            o["o_custkey"] == c["c_custkey"],
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )

    def row(name, num, passed):
        return F.struct(
            F.lit(name).alias("check_name"),
            fixed(F.col(num).cast("double") / F.col("n"), 6).alias("metric"),
            passed.alias("passed"),
        )

    b = base.crossJoin(F.broadcast(fk))
    checks = b.select(
        F.explode(
            F.array(
                row("orderkey_unique", "n_keys", F.col("n_keys") == F.col("n")),
                row("custkey_complete", "n_cust", F.col("n_cust") == F.col("n")),
                row(
                    "custkey_fk_integrity",
                    "n_matched",
                    F.col("n_matched") == F.col("n"),
                ),
                row("totalprice_positive", "n_pos", F.col("n_pos") == F.col("n")),
            )
        ).alias("r")
    )
    return checks.select("r.check_name", "r.metric", "r.passed")


# --- incremental aggregation: partial-state merge -------------------
# The materialized-view / streaming-sink foundation: a base batch and
# a delta batch are aggregated INDEPENDENTLY into mergeable partial
# states (decimal sum + count), then merged by a second-level
# aggregate — and the result must equal a from-scratch aggregation
# of the full table, which is exactly what the oracle computes. The
# split is a date predicate, mimicking a daily incremental load.
_INC_SPLIT = "1997-01-01"
_INC_ORACLE = f"""
SELECT o_orderpriority,
       count(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS revenue,
       {sql_davg('o_totalprice', 2, 4)} AS avg_price
FROM orders
GROUP BY o_orderpriority
"""


@register("incremental_revenue_merge", oracle=_INC_ORACLE)
def q_incremental_revenue_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation: base + delta partial states merged.

    The oracle recomputes from scratch — equality IS the correctness
    property of the partial-state design (decimal sums and counts are
    associative-commutative, so merge order cannot matter; avg is
    derived only AFTER the merge, never averaged-of-averages).

    Plan: two disjoint predicate scans (both push the date filter to
    parquet), each one partial agg, union, final merge agg — at
    scale the delta side is a day's partition while the base state
    is a tiny saved table, so the merge touches O(groups) rows.
    """
    o = _t(spark, sf_dir, "orders")
    split = F.lit(_INC_SPLIT).cast("timestamp")

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(dec("o_totalprice", 2)).alias("psum"),
        )

    base = partial(o.filter(F.col("o_orderdate") < split))
    delta = partial(o.filter(F.col("o_orderdate") >= split))
    merged = (
        base.unionAll(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("pn").alias("n_orders"), F.sum("psum").alias("ssum"))
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.col("ssum").cast("double").alias("revenue"),
        fixed(
            F.col("ssum").cast("double") / F.col("n_orders"), 4
        ).alias("avg_price"),
    )


# --- equi-depth decile histogram (ntile) ----------------------------
# Distribution profiling: ten equal-count price buckets per return
# flag with their boundaries. ntile's SQL semantics (floor-division
# row distribution over a TOTAL order) are engine-identical, so the
# deterministic (price, orderkey, linenumber) tie-break makes bucket
# assignment exact. NOTE the scale ceiling, accepted deliberately:
# ntile sorts each whole partition (3 flags → 3 giant sorts at
# 100 TB). The scale path for equi-depth histograms is
# percentile_approx boundaries + a map-only range bucketer; THIS
# entry is the exact, oracle-checkable form that validates that
# approximation (same role as ngram_jaccard_pairs for LSH).
_DECILE_ORACLE = f"""
WITH b AS (
  SELECT l_returnflag,
         l_extendedprice,
         ntile(10) OVER (PARTITION BY l_returnflag
                         ORDER BY l_extendedprice, l_orderkey,
                                  l_linenumber) AS decile
  FROM lineitem
)
SELECT l_returnflag, CAST(decile AS INT) AS decile,
       count(*) AS n,
       min(l_extendedprice) AS lo,
       max(l_extendedprice) AS hi,
       {sql_dsum('l_extendedprice')} AS sum_price
FROM b GROUP BY l_returnflag, decile
"""


@register("price_decile_histogram", oracle=_DECILE_ORACLE)
def q_price_decile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth price deciles per return flag (ntile + aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return (
        li.select(
            "l_returnflag",
            "l_extendedprice",
            F.ntile(10).over(w).alias("decile"),
        )
        .groupBy("l_returnflag", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


# --- unpivot / melt (wide → long, the pivot inverse) ----------------
_UNPIVOT_ORACLE = f"""
SELECT l_returnflag, measure,
       count(*) AS n,
       {sql_dsum('value')} AS total,
       {sql_davg('value', 2, 4)} AS mean
FROM (
  SELECT l_returnflag, l_quantity, l_extendedprice, l_discount
  FROM lineitem
) UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice,
                                 l_discount))
GROUP BY l_returnflag, measure
"""


@register("lineitem_unpivot_stats", oracle=_UNPIVOT_ORACLE)
def q_lineitem_unpivot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): three measure columns rotated into
    (measure, value) rows, then one grouped profile per
    (returnflag, measure) — the inverse reshape of
    events_type_pivot, closing the long↔wide pair.

    Plan: unpivot compiles to a constant-factor-3 Expand (map-only,
    no key-discovery job — measures are declared like the pivot's
    values), then ONE map-side-combined aggregate on the 3×|flags|
    keys."""
    li = _t(spark, sf_dir, "lineitem")
    # r15 (guide §2.3): the Expand tripled every lineitem row before
    # the aggregate — 3× the bytes hashed, copied and partial-agg'd
    # for a 9-row result. One wide aggregate per flag computes the
    # same (count, dsum, davg) per measure column in a single pass,
    # and the long shape is rebuilt by exploding 3 structs per flag
    # row AFTER the aggregate (9 rows total). Decimal sums/avgs are
    # exact and per-column identical to the unpivoted "value" sums
    # (each (flag, measure) group contains exactly the flag's rows),
    # so the result is bit-identical; only the reshape moves from
    # before the aggregate (|lineitem|×3 rows) to after (3×3 rows).
    measures = ["l_quantity", "l_extendedprice", "l_discount"]
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        *[dsum(m).alias(f"t_{m}") for m in measures],
        *[davg(m).alias(f"m_{m}") for m in measures],
    )
    stacked = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(m).alias("measure"),
                    F.col("n").alias("n"),
                    F.col(f"t_{m}").alias("total"),
                    F.col(f"m_{m}").alias("mean"),
                )
                for m in measures
            ]
        )
    ).alias("_r")
    return agg.select("l_returnflag", stacked).select(
        "l_returnflag", "_r.measure", "_r.n", "_r.total", "_r.mean"
    )


# --- SQL interface: ONE dialect-common string for both engines ------
# The engine's spark.sql() surface, proven in the strongest form:
# the exact same SQL text executes in Spark (over temp views) AND in
# DuckDB as the oracle — zero translation layer. Restricted to the
# ANSI-common dialect subset (joins, grouping, exact DECIMAL sums,
# CASE, HAVING); everything engine-specific stays in the DataFrame
# entries.
_COMMON_SQL = """
SELECT c.c_mktsegment AS segment,
       o.o_orderpriority AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue,
       CAST(sum(CASE WHEN o.o_totalprice > 200000.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_large
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment, o.o_orderpriority
HAVING count(*) > 2
"""


@register("sql_interface_segment_revenue", oracle=_COMMON_SQL)
def q_sql_interface_segment_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Revenue by market segment × priority through ``spark.sql``.

    The SQL string IS the oracle string — byte-identical text, two
    engines, hash-equal results. Plan: Catalyst gives the same
    broadcast-dim star shape as the DataFrame twin (region_revenue);
    the HAVING compiles to a post-agg filter, never a second scan.
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_COMMON_SQL)


# --- TPC-H Q3: shipping priority (entry #100) -----------------------
_Q3_ORACLE = f"""
SELECT l.l_orderkey,
       CAST(sum({_DISC}) AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-06-15 00:00:00'
  AND l.l_shipdate  > TIMESTAMP '1997-06-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


@register("shipping_priority_q3", oracle=_Q3_ORACLE)
def q_shipping_priority_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: top-10 unshipped BUILDING orders by revenue.

    Plan: both date predicates and the segment filter push to their
    parquet scans (the segment-filtered customer side broadcasts);
    the fact join shuffles on orderkey once; the ORDER BY+LIMIT
    compiles to TakeOrderedAndProject — per-partition heaps, no
    global sort."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-15").cast("timestamp")
    )
    disc_price = dec("l_extendedprice", 2, 12) * (
        F.lit(1) - dec("l_discount", 2, 4)
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --- grouped OLS: price ~ quantity per brand ------------------------
# ML-adjacent analytics from ONE moment pass (the events_value_ttest
# recipe): per-brand (n, Σx, Σy, Σx², Σxy, Σy²) as exact decimals,
# slope/intercept/r² derived per brand (|brands| rows) with every
# double operation in the same textual order as the oracle.
_REGR_ORACLE = """
WITH j AS (
  SELECT p.p_brand AS brand,
         CAST(l.l_quantity AS DECIMAL(18,2)) AS x,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
g AS (
  SELECT brand, count(*) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM j GROUP BY brand
),
d AS (
  SELECT brand, n, sx, sy, syy,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den,
         n * syy - sy * sy AS dy
  FROM g
)
SELECT brand, n,
       floor((num / nullif(den, 0)) * 1000000.0) / 1000000.0 AS slope,
       floor(((sy - (num / nullif(den, 0)) * sx) / n) * 1000000.0)
         / 1000000.0 AS intercept,
       floor(((num * num) / nullif(den * dy, 0)) * 1000000.0)
         / 1000000.0 AS r2
FROM d
"""


@register("brand_price_regression", oracle=_REGR_ORACLE)
def q_brand_price_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand simple linear regression of extended price on
    quantity: slope, intercept, r².

    Plan: part joins broadcast (dim side), then ONE fact-side
    aggregate collects the six moments per brand as exact decimal
    sums (map-side partial) — the closed-form solve runs on |brands|
    rows. This is the normal-equations shape that scales to any fact
    size: the data is touched once, the model solve is O(groups). At
    higher feature counts the same pass widens to X'X / X'y
    accumulators with a driver-side k×k solve (the pca_reduce moment
    device).
    """
    li = catalog.table(spark, sf_dir, "lineitem")
    part = catalog.table(spark, sf_dir, "part")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    # r16 (guide §1.2 per-task work): the six moments cost three
    # BigDecimal multiplies per lineitem row (decimal products over
    # precision 18 never take Spark's compact-long fast path).
    # l_quantity takes ~50 discrete values, so x·x and x·y regroup
    # exactly through a (brand, x) sub-aggregate — Σx·x = x²·cnt and
    # Σx·y = x·Σy per subgroup, multiplied on ≤ brands×50 rows. y·y
    # cannot regroup (y is continuous) and moves to long space
    # instead: y_c = round(y·100) is the exact unscaled cents
    # (verified 0 mismatches vs the decimal cast across sf0.01 and
    # sf0.1), y_c² fits a bigint (< 1.2e14), and the per-row kernel
    # becomes one long multiply + compact decimal adds. Every
    # intermediate is value-exact, so the double casts feeding the
    # closed-form solve — and the oracle hash — are unchanged.
    y_c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li["l_partkey"] == part["p_partkey"],
    ).select(
        F.col("p_brand").alias("brand"),
        x.alias("x"),
        y.alias("y"),
        y_c.alias("y_c"),
    )
    sub = j.groupBy("brand", "x").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("y").alias("sy_sub"),
        F.sum((F.col("y_c") * F.col("y_c")).cast("decimal(30,0)")).alias(
            "syy_c"
        ),
    )
    g = sub.groupBy("brand").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("x") * F.col("cnt")).cast("double").alias("sx"),
        F.sum("sy_sub").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x") * F.col("cnt"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("x") * F.col("sy_sub")).cast("double").alias("sxy"),
        (F.sum("syy_c") / F.lit(10000)).cast("double").alias("syy"),
    )
    d = g.select(
        "brand",
        "n",
        "sx",
        "sy",
        "syy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("dy"),
    )
    # degenerate groups (constant x, or n=1) have den=0: both engines
    # must agree on NULL, so the divide is guarded here and with
    # nullif() in the oracle — DuckDB's bare IEEE divide would give
    # inf/nan where Spark's non-ANSI divide gives NULL.
    den_ok = F.when(F.col("den") != 0, F.col("den"))
    dendy_ok = F.when(
        F.col("den") * F.col("dy") != 0, F.col("den") * F.col("dy")
    )
    return d.select(
        "brand",
        "n",
        fixed(F.col("num") / den_ok, 6).alias("slope"),
        fixed(
            (F.col("sy") - (F.col("num") / den_ok) * F.col("sx"))
            / F.col("n"),
            6,
        ).alias("intercept"),
        fixed(
            (F.col("num") * F.col("num")) / dendy_ok, 6
        ).alias("r2"),
    )


# --- two-phase distributed skyline (Pareto dominance) ---------------
# Börzsönyi et al. 2001 divide-and-conquer shape: each partition
# computes its LOCAL skyline (map-only pruning — correct because a
# global skyline point is unbeaten in every subset containing it, so
# global ⊆ union of locals), then the small candidate union resolves
# exactly with one broadcast anti-join on the dominance predicate.
_SKYLINE_ORACLE = """
WITH t AS (
  SELECT p_partkey, CAST(p_retailprice AS DECIMAL(18,2)) AS price,
         p_size AS sz
  FROM part
)
SELECT c.p_partkey, CAST(c.price AS DOUBLE) AS price,
       CAST(c.sz AS INT) AS sz
FROM t c
WHERE NOT EXISTS (
  SELECT 1 FROM t d
  WHERE d.price <= c.price AND d.sz >= c.sz
    AND (d.price < c.price OR d.sz > c.sz)
)
"""


@register("part_price_skyline", oracle=_SKYLINE_ORACLE)
def q_part_price_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts: minimize retail price, maximize
    size; nothing on the frontier is dominated (≤ price AND ≥ size,
    strict somewhere).

    Plan: phase 1 is an Arrow-batched local-skyline sweep per
    partition (sort by (price asc, size desc); keep a row iff its
    size strictly beats the running max of all cheaper rows and ties
    the max of its own price group) — map-only, prunes each
    partition to ~O(log n) candidates before anything moves. Phase 2
    anti-joins the tiny candidate union against its broadcast self
    on the dominance predicate (BroadcastNestedLoopJoin over
    candidates only — the fact table never sees a non-equi join).
    Result is the exact global skyline for ANY partitioning.
    """
    import numpy as np
    import pandas as pd

    part = catalog.table(spark, sf_dir, "part")
    t = part.select(
        "p_partkey",
        F.col("p_retailprice").cast("decimal(18,2)").alias("price"),
        F.col("p_size").alias("sz"),
    )

    def local_skyline(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            s = pdf.sort_values(
                ["price", "sz"], ascending=[True, False], kind="mergesort"
            )
            price = s["price"].to_numpy()
            sz = s["sz"].to_numpy()
            keep = np.zeros(len(s), dtype=bool)
            best_prev = -(1 << 62)  # max size among strictly cheaper rows
            i = 0
            while i < len(s):
                j = i
                while j < len(s) and price[j] == price[i]:
                    j += 1
                group_max = sz[i]  # sorted size-desc within the group
                for r in range(i, j):
                    keep[r] = sz[r] == group_max and sz[r] > best_prev
                best_prev = max(best_prev, group_max)
                i = j
            yield s.loc[keep]

    cand = t.mapInPandas(
        local_skyline, schema="p_partkey bigint, price decimal(18,2), sz int"
    )
    c, d = cand.alias("c"), cand.alias("d")
    dominated = (
        (F.col("d.price") <= F.col("c.price"))
        & (F.col("d.sz") >= F.col("c.sz"))
        & ((F.col("d.price") < F.col("c.price")) | (F.col("d.sz") > F.col("c.sz")))
    )
    return (
        c.join(F.broadcast(d), dominated, "left_anti")
        .select(
            "p_partkey",
            F.col("price").cast("double").alias("price"),
            F.col("sz").cast("int").alias("sz"),
        )
    )


# --- TPC-H Q10: returned-item customer ranking ----------------------
_Q10_ORACLE = f"""
SELECT c.c_custkey, c.c_name,
       CAST(sum({_DISC}) AS DOUBLE) AS revenue,
       CAST(c.c_acctbal AS DOUBLE) AS acctbal,
       n.n_name
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@register("returned_items_q10", oracle=_Q10_ORACLE)
def q_returned_items_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns in one
    quarter.

    Plan: the quarter predicate pushes to the orders scan and the
    returnflag predicate to the lineitem scan (both pruned before any
    join); nation broadcasts; lineitem⋈orders shuffles on orderkey
    once, then one custkey exchange for the join+agg; ORDER BY+LIMIT
    is TakeOrderedAndProject (per-partition heaps). Revenue is the
    exact-decimal discount sum surfaced as double (Q1/Q3 recipe).
    """
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    disc_price = dec("l_extendedprice", 2, 12) * (
        F.lit(1) - dec("l_discount", 2, 4)
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --- TPC-H Q5: local supplier volume ---------------------------------
# The classic 6-table star: revenue from orders where the customer and
# the supplier sit in the same ASIA nation. Registered round 6 with
# local parity; window debut planned for round 7 (rotation policy).
_Q5_ORACLE = f"""
SELECT n.n_name,
       CAST(sum({_DISC}) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o    ON c.c_custkey = o.o_custkey
JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n    ON s.s_nationkey = n.n_nationkey
JOIN region r    ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC
"""


@register("local_supplier_volume_q5", oracle=_Q5_ORACLE)
def q_local_supplier_volume_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: per-nation revenue where customer and supplier share
    the nation, region-restricted, one order year.

    Plan: nation⋈region prunes to the 5-nation ASIA dim FIRST and
    broadcasts; supplier and the filtered customer dim broadcast too,
    so the only shuffle is the lineitem⋈orders fact join on orderkey —
    the same-nation condition rides the supplier broadcast as an
    equi-key (c_nationkey = s_nationkey), never a second fact
    exchange. Date predicate pushes to the orders scan."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice", 2, 12) * (
        F.lit(1) - dec("l_discount", 2, 4)
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .groupBy("n_name")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


# --- TPC-H Q14: promotion effect -------------------------------------
_Q14_ORACLE = f"""
WITH m AS (
  SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {_DISC}
                       ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
           AS promo,
         CAST(sum({_DISC}) AS DOUBLE) AS total
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
)
SELECT floor((100.0 * promo / total) * 1000000.0) / 1000000.0
         AS promo_revenue_pct
FROM m
"""


@register("promo_revenue_q14", oracle=_Q14_ORACLE)
def q_promo_revenue_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: share of one month's revenue from PROMO parts.

    Plan: shipdate range pushes to the lineitem scan, part broadcasts
    (only p_partkey/p_type read), and BOTH sums come out of ONE
    aggregate over the joined month — conditional-sum instead of two
    scans. Exact decimal sums; the ratio divides once, in the same
    textual order as the oracle, then floor-quantizes."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_price = dec("l_extendedprice", 2, 12) * (
        F.lit(1) - dec("l_discount", 2, 4)
    )
    zero = F.lit(0).cast("decimal(12,2)")
    m = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", disc_price).otherwise(zero)
            )
            .cast("double")
            .alias("promo"),
            F.sum(disc_price).cast("double").alias("total"),
        )
    )
    return m.select(
        fixed(F.lit(100.0) * F.col("promo") / F.col("total"), 6).alias(
            "promo_revenue_pct"
        )
    )


# --- TPC-H Q19: discounted revenue (disjunctive predicates) ----------
_Q19_ORACLE = f"""
SELECT CAST(sum({_DISC}) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 21)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 20
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 20 AND 40)
"""


@register("disjunctive_revenue_q19", oracle=_Q19_ORACLE)
def q_disjunctive_revenue_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under an OR-of-ANDs predicate spanning both
    join sides.

    Plan: Catalyst factors the cross-side disjunction — the
    brand/size terms (part-only) reduce the BROADCAST side before the
    join, the quantity bounds (lineitem-only: 1..40 overall) push to
    the fact scan as a range filter, and the residual mixed predicate
    evaluates post-join. The naive reading (filter only after the
    join) would scan every lineitem row against the full part dim."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    disc_price = dec("l_extendedprice", 2, 12) * (
        F.lit(1) - dec("l_discount", 2, 4)
    )
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & sz.between(1, 15)
            & q.between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & sz.between(1, 20)
            & q.between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & sz.between(1, 25)
            & q.between(20, 40)
        )
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.sum(disc_price).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- TPC-H Q7: volume shipping between a nation pair -----------------
# Bidirectional trade revenue between two nations by ship year. The
# synthetic nations are NATION_0..24 (TESTDATA.md), so the classic
# FRANCE/GERMANY pair maps to NATION_1/NATION_2; ship years 1995-1996.
_Q7_N1, _Q7_N2 = "NATION_1", "NATION_2"
_Q7_ORACLE = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(sum({_DISC}) AS DOUBLE) AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = '{_Q7_N1}' AND n2.n_name = '{_Q7_N2}')
    OR (n1.n_name = '{_Q7_N2}' AND n2.n_name = '{_Q7_N1}'))
  AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1, 2, 3
"""


@register("volume_shipping_q7", oracle=_Q7_ORACLE)
def q_volume_shipping_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bidirectional revenue between a nation pair by ship
    year.

    Plan: BOTH dim chains shrink before broadcasting — supplier and
    customer each join their (2-row) nation slice first, so the pair
    disjunction evaluates over two tiny broadcast dims, never as a
    post-join residual on the full fact. The ship-date range pushes
    to the lineitem scan; the only shuffle is lineitem⋈orders on
    orderkey. At 100 TB the nation-pair filter makes the broadcast
    sides a fraction of the dims — the disjunction costs one extra
    predicate on a join already bounded by the pair."""
    pair = (_Q7_N1, _Q7_N2)
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"),
                             F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    )
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("cn_key"),
                             F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("cn_key"),
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    disc_price = dec("l_extendedprice", 2, 12) * (
        F.lit(1) - dec("l_discount", 2, 4)
    )
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .filter(
            (
                (F.col("supp_nation") == _Q7_N1)
                & (F.col("cust_nation") == _Q7_N2)
            )
            | (
                (F.col("supp_nation") == _Q7_N2)
                & (F.col("cust_nation") == _Q7_N1)
            )
        )
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("int").alias("l_year"),
    ).agg(F.sum(disc_price).cast("double").alias("revenue"))


# --- TPC-H Q17: small-quantity-order revenue -------------------------
# The correlated-subquery classic: revenue from orders of a brand's
# parts whose quantity is below 20% of that part's average — run as
# the standard decorrelation (per-part aggregate joined back), never
# a per-row subquery. The 0.2*avg threshold is floor-quantized to
# micro-units in BOTH engines so the strict < comparison can't flip
# on float summation-order noise.
_Q17_ORACLE = """
WITH lim AS (
  SELECT l_partkey,
         floor(0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                           AS DOUBLE) / count(l_quantity))
               * 1000000.0) / 1000000.0 AS qlim
  FROM lineitem GROUP BY l_partkey
),
sel AS (
  SELECT l.l_extendedprice
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#23'
  JOIN lim a ON a.l_partkey = l.l_partkey
  WHERE l.l_quantity < a.qlim
)
SELECT floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / 7.0 * 100.0) / 100.0 AS avg_yearly
FROM sel
"""


@register("small_qty_revenue_q17", oracle=_Q17_ORACLE)
def q_small_qty_revenue_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from below-average-quantity orders of one
    brand's parts, decorrelated.

    Plan: the correlated `l_quantity < 0.2*avg(quantity per part)`
    subquery becomes ONE per-part aggregate joined back — the
    brand-filtered part dim broadcasts into BOTH the threshold
    aggregate's input and the probe side, so the avg runs over only
    the brand's lineitem rows (partial agg before its exchange), and
    the threshold table (≤|brand's parts| rows) broadcasts back onto
    the same filtered fact. Nothing scans lineitem more than twice,
    and nothing shuffles the full table. The oracle computes lim over
    ALL parts — equivalent after the equi-join on the brand's
    partkeys — so the optimization is visible as plan shape, not as a
    different answer."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23"
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_li = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    # exact-decimal sum / count, not float avg: the repo's davg
    # convention — engine-order float summation under a strict <
    # comparison could flip membership at a quantization boundary
    lim = brand_li.groupBy("l_partkey").agg(
        fixed(
            F.lit(0.2) * (dsum("l_quantity") / F.count("l_quantity")), 6
        ).alias("qlim")
    )
    sel = brand_li.join(F.broadcast(lim), "l_partkey").filter(
        F.col("l_quantity") < F.col("qlim")
    )
    return sel.agg(
        fixed(
            dsum("l_extendedprice").cast("double") / F.lit(7.0) * 100.0, 0
        ).alias("_t")
    ).select((F.col("_t") / 100.0).alias("avg_yearly"))


# --- TPC-H Q21: suppliers who kept orders waiting --------------------
# The exists / not-exists anti-join classic. The synthetic lineitem
# has no commit/receipt dates (TESTDATA.md), so "late" is adapted to
# l_shipdate > o_orderdate + 70 days; the decorrelation shape under
# test — two correlated subqueries over the same derived table,
# rewritten to per-order supplier counts — is unchanged. The oracle
# keeps the LITERAL correlated EXISTS / NOT EXISTS formulation, so
# the driver proves the rewrite equivalent, not just self-consistent.
_Q21_LATE_DAYS = 70
_Q21_NATIONS = ("NATION_3", "NATION_8")
_Q21_ORACLE = f"""
WITH l1 AS (
  SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM l1 a
JOIN supplier s ON s.s_suppkey = a.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name IN ('{_Q21_NATIONS[0]}', '{_Q21_NATIONS[1]}')
  AND a.l_shipdate > a.o_orderdate + INTERVAL {_Q21_LATE_DAYS} DAY
  AND EXISTS (
    SELECT 1 FROM l1 b
    WHERE b.l_orderkey = a.l_orderkey AND b.l_suppkey <> a.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM l1 c
    WHERE c.l_orderkey = a.l_orderkey AND c.l_suppkey <> a.l_suppkey
      AND c.l_shipdate > c.o_orderdate + INTERVAL {_Q21_LATE_DAYS} DAY)
GROUP BY s.s_name
"""


@register("waiting_suppliers_q21", oracle=_Q21_ORACLE)
def q_waiting_suppliers_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: suppliers who were the ONLY late supplier on a
    finished multi-supplier order, decorrelated.

    Plan: both correlated subqueries collapse into ONE per-order
    profile computed from the same l1 the outer query scans —
    `exists(other supplier)` ⟺ n_supp > 1 and `not exists(other LATE
    supplier)` ⟺ n_late_supp = 1 (the probe row is itself late, so
    the single late supplier must be its own). The profile is a
    two-level aggregate — (orderkey, suppkey) then (orderkey) — and
    because l1 leaves the lineitem⋈orders join hash-partitioned by
    orderkey, BOTH aggregate levels and the profile⋈probe join reuse
    that partitioning: the whole decorrelation costs zero exchanges
    beyond the initial fact join. A per-row subquery (the literal
    oracle formulation) would rescan lineitem once per probe row; at
    100 TB the rewrite is the difference between one shuffle and a
    quadratic re-read. Supplier and its 2-row nation slice broadcast.
    """
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    l1 = li.join(o, li["l_orderkey"] == o["o_orderkey"]).withColumn(
        "late",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate")
            + F.expr(f"INTERVAL {_Q21_LATE_DAYS} DAYS")
        ).cast("int"),
    )
    # per-(order, supplier) lateness, then per-order counts — both
    # satisfied by the orderkey partitioning l1 already carries
    per_supp = l1.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("supp_late")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("supp_late").alias("n_late_supp"),
    )
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*_Q21_NATIONS)
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    # SHUFFLE_HASH (r15, guide §3.2): both sides already share l1's
    # orderkey partitioning, but the planner's default turned this
    # into a SortMergeJoin — sorting the late-probe stream AND the
    # profile for a join a hash relation over the (smaller) per-order
    # profile serves without any sort. At 100 TB the removed cost is
    # two O(n log n) sorts of lineitem-scale partitions per run.
    waiting = (
        l1.filter(F.col("late") == 1)
        .join(per_order.hint("SHUFFLE_HASH"), "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    return (
        waiting.join(F.broadcast(s), waiting["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# --- TPC-H Q2: minimum-cost supplier ---------------------------------
# The correlated scalar-min classic. The synthetic schema has no
# partsupp table (TESTDATA.md), so supply cost is derived from
# lineitem — min(l_extendedprice) per (part, supplier) — which keeps
# the shape under test: a correlated `= (SELECT min(...))` scalar
# subquery per probe row, decorrelated into one per-part aggregate
# joined back on (partkey, cost). min over doubles is exact and
# order-independent, so the float equality cannot flip across
# engines. The oracle keeps the LITERAL correlated formulation.
_Q2_REGION = "EUROPE"
_Q2_ORACLE = f"""
WITH cost AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supplycost
  FROM lineitem GROUP BY 1, 2
),
eligible AS (
  SELECT c.l_partkey, c.supplycost, s.s_name, s.s_acctbal, n.n_name
  FROM cost c
  JOIN supplier s ON s.s_suppkey = c.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = '{_Q2_REGION}'
)
SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand,
       e.supplycost
FROM eligible e
JOIN part p ON p.p_partkey = e.l_partkey
WHERE p.p_size <= 10 AND p.p_type = 'ECONOMY'
  AND e.supplycost = (SELECT min(e2.supplycost) FROM eligible e2
                      WHERE e2.l_partkey = e.l_partkey)
"""


@register("min_cost_supplier_q2", oracle=_Q2_ORACLE)
def q_min_cost_supplier_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2: the region's cheapest supplier(s) per qualifying
    part, decorrelated.

    Plan: the correlated `= (SELECT min(supplycost) ...)` becomes ONE
    per-part min over the SAME eligible table, broadcast back onto it
    as an equi-join on (partkey, cost). The part filter (size/type)
    broadcasts into the cost aggregation's INPUT — the oracle
    computes cost over all parts, but the per-part min among eligible
    suppliers is identical after the equi-join, so the pushdown is
    visible only as plan shape. lineitem shuffles once, keyed
    (l_partkey, l_suppkey), with map-side partial min; everything
    after operates on |qualifying parts × region suppliers| rows —
    broadcast-sized at any scale factor. Supplier/nation/region dims
    broadcast; no per-row subquery anywhere."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "ECONOMY")
    ).select("p_partkey", "p_brand")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(
        F.col("r_name") == _Q2_REGION
    )
    eur = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    cost = (
        li.join(F.broadcast(p.select("p_partkey")),
                li["l_partkey"] == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("supplycost"))
    )
    elig = cost.join(
        F.broadcast(eur), cost["l_suppkey"] == eur["s_suppkey"]
    )
    minc = elig.groupBy("l_partkey").agg(
        F.min("supplycost").alias("min_cost")
    ).withColumnRenamed("l_partkey", "m_partkey")
    return (
        elig.join(
            F.broadcast(minc),
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("supplycost") == F.col("min_cost")),
        )
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            "supplycost",
        )
    )


# --- TPC-H Q20: suppliers with excess recent shipment share ----------
# The semi-join-on-correlated-aggregate classic. The synthetic schema
# has no partsupp/availqty (TESTDATA.md), so "excess" is adapted to a
# shipment-concentration predicate with the same decorrelation shape:
# a supplier qualifies when some part's 1996 shipments exceed half of
# that (supplier, part)'s all-time shipments. The oracle keeps a
# correlated EXISTS over the per-pair aggregate, so the Spark-side
# rewrite to a plain semi-join is proven equivalent. Quantity sums
# compare as EXACT DECIMALs on both engines (2·y96 > tot — never a
# float ratio), so the strict inequality cannot flip at a boundary.
_Q20_NATIONS = ("NATION_5", "NATION_10")
_Q20_ORACLE = f"""
WITH sp AS (
  SELECT l_suppkey, l_partkey,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                   AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                  THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS y96,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS tot
  FROM lineitem GROUP BY 1, 2
)
SELECT s.s_suppkey, s.s_name
FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name IN ('{_Q20_NATIONS[0]}', '{_Q20_NATIONS[1]}')
  AND EXISTS (SELECT 1 FROM sp
              WHERE sp.l_suppkey = s.s_suppkey AND 2 * sp.y96 > sp.tot)
"""


@register("excess_shipment_q20", oracle=_Q20_ORACLE)
def q_excess_shipment_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: suppliers whose recent shipments of some part
    exceed half that pair's all-time volume, decorrelated to a plain
    semi-join.

    Plan: ONE aggregate over lineitem keyed (suppkey, partkey) builds
    both the windowed and the all-time quantity sums (conditional sum
    — no second scan, no self-join), the threshold filter runs on the
    aggregate's output, and the surviving supplier keys semi-join the
    nation-filtered supplier dim. The correlated EXISTS the oracle
    states would re-scan lineitem per supplier; here lineitem moves
    through exactly one exchange and the semi-join probes a
    broadcast-sized key set. NULL y96 (no 1996 shipments) fails the
    strict > in both engines — no coalesce needed."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity", "l_shipdate"
    )
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*_Q20_NATIONS)
    )
    supplier = _t(spark, sf_dir, "supplier")
    s = supplier.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    # r16 (guide §3.2): semi-filter the FACT side with the bounded
    # 2-of-25-nation supplier keys BEFORE the (suppkey, partkey)
    # aggregate — the nation predicate is on the aggregate KEY, so it
    # commutes exactly with the grouping, and the first (and only
    # corpus-sized) exchange now carries ~8% of the rows. The build
    # side is the nation-pruned supplier dim (≈8% of suppliers),
    # forced to broadcast only while the whole supplier table's 8 B
    # s_suppkey rows fit the session's broadcast budget; past it the
    # pushdown lapses and the final semi-join alone filters. The
    # count is a parquet metadata read (no data scan).
    if supplier.count() <= broadcast_limit_rows(spark, 8):
        li = li.join(
            F.broadcast(s.select("s_suppkey")),
            li["l_suppkey"] == F.col("s_suppkey"),
            "left_semi",
        )
    in96 = (
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
    ) & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.when(in96, dec("l_quantity", 2, 18))).alias("y96"),
        F.sum(dec("l_quantity", 2, 18)).alias("tot"),
    )
    excess_keys = (
        sp.filter(F.lit(2) * F.col("y96") > F.col("tot"))
        .select("l_suppkey")
        .distinct()
    )
    return s.join(
        excess_keys, s["s_suppkey"] == excess_keys["l_suppkey"], "left_semi"
    ).select("s_suppkey", "s_name")


# --- TPC-H Q22: high-balance customers gone idle ---------------------
# The scalar-avg-subquery + anti-join classic. The synthetic customer
# table has no phone column and every customer has SOME order, so the
# adaptation groups by nationkey and defines idle as "no order since
# 2000-01-01" — the decorrelation shapes under test (global scalar
# broadcast + anti-join against the order keys) are unchanged. The
# threshold divides an exact decimal sum by a count in DOUBLE, the
# same textual order in both engines (the repo's davg recipe).
_Q22_CUTOFF = "2000-01-01"
_Q22_ORACLE = f"""
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
       {sql_dsum('c_acctbal')} AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT {sql_dsum('c2.c_acctbal')} / count(*)
                     FROM customer c2 WHERE c2.c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '{_Q22_CUTOFF} 00:00:00')
GROUP BY c_nationkey
"""


@register("idle_customers_q22", oracle=_Q22_ORACLE)
def q_idle_customers_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: per-nation count and balance of above-average
    customers with no recent orders, decorrelated.

    Plan: the scalar avg subquery becomes a 1-row aggregate broadcast
    onto the customer scan (a 1-row broadcast nested-loop is the
    correct physical shape for a scalar — it is not a join blow-up);
    the NOT EXISTS becomes a LEFT ANTI join against the
    date-filtered order keys, with the date predicate pushed to the
    orders scan so the anti-join's build side is the RECENT slice,
    not the full fact. At 100 TB the anti-join shuffles (or
    broadcasts, when the recent window is small) only custkeys."""
    cust = _t(spark, sf_dir, "customer")
    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        (dsum("c_acctbal") / F.count(F.lit(1))).alias("thr")
    )
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(_Q22_CUTOFF).cast("timestamp")
    ).select("o_custkey")
    rich = cust.join(F.broadcast(thr)).filter(
        F.col("c_acctbal") > F.col("thr")
    )
    idle = rich.join(
        recent, rich["c_custkey"] == recent["o_custkey"], "left_anti"
    )
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        dsum("c_acctbal").alias("totacctbal"),
    )


# --- TPC-H Q11: revenue concentration above a global fraction --------
# The having-vs-global-scalar classic (Q11's GROUP BY ... HAVING
# sum > fraction * (SELECT sum ...)): parts whose revenue exceeds
# 0.0007 of TOTAL revenue. Both engines compare exact DECIMALs
# cross-multiplied (10000·rev > 7·total) — the fraction never becomes
# a float, so the strict inequality is engine-exact.
_Q11_ORACLE = f"""
WITH pr AS (
  SELECT l_partkey, sum({_DISC}) AS rev
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(rev AS DOUBLE) AS revenue
FROM pr, (SELECT sum(rev) AS total FROM pr) t
WHERE 10000 * rev > 7 * t.total
"""


@register("revenue_concentration_q11", oracle=_Q11_ORACLE)
def q_revenue_concentration_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: parts holding more than a fixed fraction of total
    revenue.

    Plan: ONE exchange builds the per-part revenue table; the global
    total is a second aggregate over that |parts|-bounded result (not
    a second lineitem scan) broadcast back as a 1-row scalar. The
    per-part table is persisted across its two consumers so the
    lineitem scan+shuffle runs once. Cross-multiplied decimal
    comparison keeps the threshold exact at any scale."""
    from miba_2023_capstone_rb_nlp_spark.suite import persist_tracked

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    disc_price = dec("l_extendedprice", 2, 12) * (
        F.lit(1) - dec("l_discount", 2, 4)
    )
    pr = persist_tracked(
        li.groupBy("l_partkey").agg(F.sum(disc_price).alias("rev"))
    )
    total = pr.agg(F.sum("rev").alias("total"))
    return (
        pr.join(F.broadcast(total))
        .filter(F.lit(10000) * F.col("rev") > F.lit(7) * F.col("total"))
        .select("l_partkey", F.col("rev").cast("double").alias("revenue"))
    )


# ======================================================================
# Round-8 second half: the REMAINING TPC-H query shapes, completing the
# full 22-query battery (Q1=pricing_summary, Q4 shape=
# order_priority_semijoin; Q2/3/5/7/10/11/14/17/19/20/21/22 above).
# Where the synthetic schema lacks the classic's columns (no partsupp,
# shipmode, commit/receipt dates, comments — TESTDATA.md), the
# adaptation keeps the PLAN SHAPE under test and the docstring says
# exactly what was substituted.
# ======================================================================


# --- TPC-H Q6: forecast revenue change -------------------------------
# The pure scan-aggregate: every predicate is sargable, so the entire
# query is a parquet scan with pushed filters feeding a 1-row partial
# agg — the canonical "did pushdown actually happen" probe
# (tests/test_plans.py asserts the PushedFilters). Discount bounds
# compare DOUBLE-to-DOUBLE (both engines parse the same literal to the
# same IEEE value), so the range cannot flip across engines.
_Q6_ORACLE = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= CAST(0.05 AS DOUBLE)
  AND l_discount <= CAST(0.07 AS DOUBLE)
  AND l_quantity < 24
"""


@register("forecast_revenue_q6", oracle=_Q6_ORACLE)
def q_forecast_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue delta from lifting a discount band.

    Plan: NO joins, NO groupBy keys — the date/discount/quantity
    predicates all push to the parquet scan (min/max row-group
    skipping does most of the 100 TB work before a row is read), and
    the sum is a map-side partial agg into a 1-row exchange. This is
    the floor any engine must hit: if this query shuffles more than
    one row per task, everything else is mistuned."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(dec("l_extendedprice", 2, 12) * dec("l_discount", 2, 4))
        .cast("double")
        .alias("revenue")
    )


# --- TPC-H Q8: national market share ---------------------------------
# One nation's share of a region's part-type market by order year.
# NATION_19 sells into the AMERICA market at every tested scale
# (checked in both sf0.001 and sf0.01 — a zero numerator would make
# the ratio a degenerate constant). The share divides two
# exact-decimal sums AS DOUBLES in the same textual order in both
# engines, then floor-quantizes (the repo's fixed() recipe).
_Q8_NATION = "NATION_19"
_Q8_REGION = "AMERICA"
_Q8_ORACLE = f"""
WITH vol AS (
  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
         CAST(sum(CASE WHEN n1.n_name = '{_Q8_NATION}'
                       THEN {_DISC} END) AS DOUBLE) AS nation_vol,
         CAST(sum({_DISC}) AS DOUBLE) AS total_vol
  FROM lineitem l
  JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = n2.n_regionkey
                 AND r.r_name = '{_Q8_REGION}'
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY 1
)
SELECT o_year,
       {sql_fixed('coalesce(nation_vol, 0.0) / total_vol', 6)} AS mkt_share
FROM vol
"""


@register("market_share_q8", oracle=_Q8_ORACLE)
def q_market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's yearly share of a region's market.

    Plan: the classic 8-table star resolved with ONE fact shuffle —
    part (type-filtered) broadcasts into the lineitem scan, the
    customer⋈nation⋈region chain collapses to a broadcast keyed
    c_custkey, the supplier⋈nation chain to a broadcast keyed
    s_suppkey carrying supp_nation, and lineitem⋈orders shuffles on
    orderkey (date filter pushed to the orders scan). The share is a
    conditional-sum ratio INSIDE one aggregate — never a self-join of
    numerator and denominator queries, which would double the fact
    cost at 100 TB."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == _Q8_REGION)
    n2 = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key")
    ).select("c_custkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key")
    ).select("s_suppkey", "supp_nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount",
    )
    disc_price = dec("l_extendedprice", 2, 12) * (
        F.lit(1) - dec("l_discount", 2, 4)
    )
    vol = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == _Q8_NATION, disc_price)
            ).cast("double").alias("nation_vol"),
            F.sum(disc_price).cast("double").alias("total_vol"),
        )
    )
    return vol.select(
        "o_year",
        fixed(
            F.coalesce(F.col("nation_vol"), F.lit(0.0))
            / F.col("total_vol"),
            6,
        ).alias("mkt_share"),
    )


# --- TPC-H Q9: product-line profit by nation and year ----------------
# The synthetic schema has no partsupp.ps_supplycost (TESTDATA.md), so
# cost is adapted to 10% of p_retailprice per unit — keeping the shape
# under test: a LIKE-filtered part dim broadcast into the fact, profit
# as a sum of per-row expressions spanning part AND lineitem columns,
# grouped by supplier nation × order year. Gross revenue and retail
# volume aggregate as exact decimals SEPARATELY, then combine in
# double in the same textual order in both engines (decimal
# subtraction of mixed scales would tempt engine-specific rounding).
_Q9_ORACLE = f"""
WITH pl AS (
  SELECT n.n_name AS nation,
         CAST(year(o.o_orderdate) AS INT) AS o_year,
         CAST(sum({_DISC}) AS DOUBLE) AS gross,
         CAST(sum(CAST(p.p_retailprice AS DECIMAL(12,2))
                  * CAST(l.l_quantity AS DECIMAL(12,2)))
              AS DOUBLE) AS retail_vol
  FROM lineitem l
  JOIN part p     ON p.p_partkey = l.l_partkey
                 AND p.p_name LIKE '%widget%'
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
)
SELECT nation, o_year,
       {sql_fixed('gross - 0.1 * retail_vol', 2)} AS sum_profit
FROM pl
"""


@register("product_profit_q9", oracle=_Q9_ORACLE)
def q_product_profit_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit on one product line by nation and order year
    (supply cost adapted to a retail-price fraction; no partsupp).

    Plan: the LIKE-filtered part dim broadcasts into the lineitem
    scan FIRST — at TPC-H ratios '%widget%' keeps ~1/8 of parts, and
    pre-filtering the fact through that broadcast shrinks everything
    downstream; supplier⋈nation broadcasts; the only shuffle is the
    filtered lineitem⋈orders join on orderkey, and the final
    (nation × year) aggregate is a few-hundred-group partial agg.
    The LIKE itself cannot push to parquet (no substring statistics)
    but evaluates inside the broadcast-build of a 2k-row dim, not on
    the fact."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    ).select("p_partkey", "p_retailprice")
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("nation"),
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("sn_key")
    ).select("s_suppkey", "nation")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    disc_price = dec("l_extendedprice", 2, 12) * (
        F.lit(1) - dec("l_discount", 2, 4)
    )
    retail_vol = dec("p_retailprice", 2, 12) * dec("l_quantity", 2, 12)
    pl = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            "nation", F.year("o_orderdate").cast("int").alias("o_year")
        )
        .agg(
            F.sum(disc_price).cast("double").alias("gross"),
            F.sum(retail_vol).cast("double").alias("retail_vol"),
        )
    )
    return pl.select(
        "nation", "o_year",
        fixed(
            F.col("gross") - F.lit(0.1) * F.col("retail_vol"), 2
        ).alias("sum_profit"),
    )


# --- TPC-H Q12: late shipments by priority class ---------------------
# The synthetic lineitem has no l_shipmode or commit/receipt dates
# (TESTDATA.md), so the adaptation groups by l_returnflag and defines
# "late" as shipping >30 days after the order date — the shape under
# test (fact⋈fact join + conditional two-way priority counts in ONE
# aggregate) is the classic's.
_Q12_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
"""


@register("late_shipment_priority_q12", oracle=_Q12_ORACLE)
def q_late_shipment_priority_q12(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q12: how many high- vs low-priority orders shipped late
    (shipmode adapted to returnflag; lateness to ship-vs-order date).

    Plan: the ship-date window pushes to the lineitem scan; the
    cross-table lateness predicate evaluates as a residual on the
    orderkey join's output (it references both sides, so no engine
    can push it below the join); both priority counts come from ONE
    conditional aggregate over 3 groups — map-side partials reduce
    each task's output to 3 rows before the exchange."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate", "l_returnflag")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# --- TPC-H Q13: customer order-count distribution --------------------
# The outer-join-then-histogram classic. The synthetic orders table
# has no o_comment, so the classic's NOT-LIKE comment filter is
# adapted to excluding 1-URGENT orders — still a predicate on the
# PRESERVED side of the outer join's ON clause (not a WHERE, which
# would change outer-join semantics and drop the zero-order bucket).
_Q13_ORACLE = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
"""


@register("order_count_distribution_q13", oracle=_Q13_ORACLE)
def q_order_count_distribution_q13(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13: distribution of per-customer order counts, with a
    filter inside the outer join (comment filter adapted to priority).

    Plan: orders' priority filter pushes to its scan (it's an ON-side
    predicate on the non-preserved side, so pushdown is
    semantics-preserving), the outer join shuffles both sides on
    custkey, the per-customer count reuses that same custkey
    partitioning (zero extra exchanges), and the final histogram
    groups |customers| rows by a small-int key — a few dozen groups,
    map-side combined. count(o_orderkey) counts non-null matches, so
    match-less customers land in bucket 0 in both engines."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


# --- TPC-H Q15: top supplier by quarterly revenue --------------------
# The scalar-max-over-a-view classic: suppliers whose one-quarter
# revenue equals the global maximum. Revenue compares as EXACT
# DECIMALs (sum of decimal(12,2) products) — the max-equality cannot
# flip on float summation order, which is the entire reason the
# classic's `= (SELECT max(...))` is safe to state over money.
_Q15_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey AS supplier_no, sum({_DISC}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
FROM supplier s
JOIN rev r ON s.s_suppkey = r.supplier_no
WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
"""


@register("top_supplier_q15", oracle=_Q15_ORACLE)
def q_top_supplier_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) achieving the quarter's maximum
    revenue, decorrelated.

    Plan: the revenue view materializes ONCE (persist_tracked — it
    feeds both the max and the probe), sized |suppliers| after one
    partial-agg exchange over the date-pruned lineitem scan; the
    scalar max is a 1-row aggregate over that bounded table broadcast
    back as an equi-filter. The oracle keeps the literal scalar
    subquery, so the driver proves the rewrite, and the exact-decimal
    equality makes "ties all surface" well-defined in both engines."""
    from miba_2023_capstone_rb_nlp_spark.suite import persist_tracked

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    disc_price = dec("l_extendedprice", 2, 12) * (
        F.lit(1) - dec("l_discount", 2, 4)
    )
    rev = persist_tracked(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            F.sum(disc_price).alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    top = rev.join(F.broadcast(mx)).filter(
        F.col("total_rev") == F.col("max_rev")
    )
    return (
        top.join(F.broadcast(s), top["supplier_no"] == s["s_suppkey"])
        .select(
            "s_suppkey", "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


# --- TPC-H Q16: supplier diversity per part attribute ----------------
# The count-distinct + NOT-IN classic. No partsupp table, so the
# (part, supplier) bridge derives from lineitem's observed pairs; no
# s_comment, so the classic's complaint-supplier exclusion adapts to
# below-balance suppliers. The NOT IN rewrites to a LEFT ANTI join —
# exactly equivalent here because s_suppkey is non-null by schema
# (NOT IN over a nullable subquery would need null-aware anti-join).
_Q16_SIZES = (1, 5, 9, 14, 19, 23, 28, 33, 38, 45)
_Q16_ORACLE = f"""
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#3'
  AND p.p_type <> 'STANDARD'
  AND p.p_size IN {_Q16_SIZES}
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 2000)
GROUP BY 1, 2, 3
"""


@register("supplier_part_counts_q16", oracle=_Q16_ORACLE)
def q_supplier_part_counts_q16(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16: distinct supplier counts per surviving part
    attribute combination, excluding a computed supplier set.

    Plan: the triple part filter evaluates inside the broadcast build
    of the part dim (brand/type/size all sargable — they also prune
    the dim's OWN scan); the exclusion set is a second broadcast
    consumed by a LEFT ANTI join, so the fact never shuffles for the
    NOT IN; the count-distinct runs as Spark's standard two-phase
    expand (partial distinct on (attrs, suppkey), then count) over
    rows already reduced by both broadcasts. One fact exchange
    total."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "STANDARD")
        & (F.col("p_size").isin(*_Q16_SIZES))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    excl = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 2000
    ).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(
            F.broadcast(excl),
            li["l_suppkey"] == excl["s_suppkey"],
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --- TPC-H Q18: large-volume customers -------------------------------
# The HAVING-semi-join classic: orders whose total quantity tops a
# threshold, traced back to their customers. Quantity sums compare as
# exact decimals against an integer literal, so threshold membership
# is engine-exact.
_Q18_MIN_QTY = 300
_Q18_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem GROUP BY 1
  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > {_Q18_MIN_QTY}
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       o.o_totalprice, CAST(b.qty AS DOUBLE) AS sum_qty
FROM big b
JOIN orders o   ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
"""


@register("large_volume_customers_q18", oracle=_Q18_ORACLE)
def q_large_volume_customers_q18(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q18: customers behind the largest-quantity orders.

    Plan: the per-order quantity aggregate is one partial-agg
    exchange keyed l_orderkey, and the HAVING filter runs on its
    output — the subsequent orders join needs the SAME orderkey
    partitioning, so the aggregate side moves zero extra bytes
    (exchange reuse; only orders shuffles into the join). The
    customer join stays an un-hinted shuffle join ON PURPOSE: the
    qualifying set's size is threshold-dependent (~1% of orders
    here, unbounded at 100 TB), so the right physical choice is
    AQE's at runtime — a build-side broadcast when the survivors fit,
    a shuffle join when they don't. Hinting broadcast would bake in
    an OOM at scale."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity", 2, 18)).alias("qty"))
        .filter(F.col("qty") > _Q18_MIN_QTY)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    bo = big.join(o, big["l_orderkey"] == o["o_orderkey"])
    return (
        bo.join(c, bo["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", F.col("qty").cast("double").alias("sum_qty"),
        )
    )


# --- correlated LATERAL subquery with ORDER BY + LIMIT ---------------
# The SQL-standard spelling of "top-k per group" — a correlated
# LATERAL derived table with its own ORDER BY/LIMIT. Catalyst
# DECORRELATES it: the per-row subquery becomes one window-group-limit
# (row_number bounded at k, partial before the shuffle) over the inner
# table plus a single equi-join back — no nested-loop re-execution per
# outer row, which is what a naive lateral evaluation would do and
# what would be fatal against a 100 TB inner table. The SQL string IS
# the oracle string (two engines, byte-identical text).
_LATERAL_TOPC_SQL = """
SELECT n.n_name AS nation, t.c_name, t.c_acctbal
FROM nation n,
LATERAL (
  SELECT c.c_name, c.c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c.c_acctbal DESC, c.c_name
  LIMIT 2
) t
"""


@register("top_customers_lateral", oracle=_LATERAL_TOPC_SQL)
def q_top_customers_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 customers by account balance per nation, expressed as a
    correlated LATERAL subquery (the SQL-standard top-k-per-group).

    Plan (pinned in tests/test_plans.py): Catalyst decorrelates the
    lateral into WindowGroupLimit(row_number ≤ 2) — the per-partition
    limit runs PARTIAL before the exchange, so each map task forwards
    at most 2 rows per nation key and the shuffle carries k·|nations|
    rows, not the customer table — then one broadcast join back to the
    25-row nation dim. Equivalent machinery to top_orders_per_customer
    (window row_number), reached through the lateral-decorrelation
    path instead; ties broken by c_name so both engines pick the same
    rows."""
    for t in ("nation", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_TOPC_SQL)
