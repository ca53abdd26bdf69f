"""Relational extension queries (SURVEY §2.12 E1–E7, E13) — M3.

The reference has no joins/windows/grouped aggregation (SURVEY §2.9 —
its one measure arrives pre-aggregated from the SAP analytics
backend), so this module is the relational surface a Spark user
actually needs, exercised over the star schema. Scale notes live on
each query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.topk import top_k_per_group
from ..tables import load_table
from .registry import register


# ---------------------------------------------------------------------------
# E1 — grouped aggregation (TPC-H Q1 shape)
# ---------------------------------------------------------------------------
@register(
    "e1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      round(sum(l_quantity), 2) AS sum_qty,
      round(sum(l_extendedprice), 2) AS sum_base_price,
      round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      round(avg(l_quantity), 2) AS avg_qty,
      round(avg(l_extendedprice), 2) AS avg_price,
      CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("relational", "agg", "bench:headline"),
)
def e1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure grouped aggregation (TPC-H Q1 shape). Partial
    (map-side) aggregation means the shuffle carries ~6 groups per
    partition regardless of input size — the 100 TB plan is scan-bound,
    exactly what you want."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# E2 — rollup / cube
# ---------------------------------------------------------------------------
@register(
    "e2_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           round(sum(o_totalprice), 2) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("relational", "agg"),
)
def e2_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals; Spark expands grouping sets in one pass
    (Expand operator) — no repeated scans."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "e2_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("relational", "agg"),
)
def e2_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


# ---------------------------------------------------------------------------
# E3 — join family
# ---------------------------------------------------------------------------
@register(
    "e3_join_inner",
    oracle="""
    SELECT o.o_orderkey, c.c_name, round(o.o_totalprice, 2) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'MACHINERY'
    """,
    tags=("relational", "join"),
)
def e3_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join; the segment filter prunes customer before the
    join and AQE's runtime size check picks broadcast at fixture
    scale. No forced hint: a customer slice grows with the scale
    factor, so at 100 TB AQE correctly flips to a shuffle join
    (VERDICT r04 item 4 posture). No shuffle of the fact table at
    fixture stats."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "MACHINERY"
    )
    return orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select("o_orderkey", "c_name", F.round("o_totalprice", 2).alias("total"))


@register(
    "e3_join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'F'
    GROUP BY c.c_custkey, c.c_name
    """,
    tags=("relational", "join"),
)
def e3_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving unmatched customers (count=0); the
    ON-clause extra predicate (not a WHERE) is the classic outer-join
    correctness trap — expressed the same on both sides."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = customer.join(
        orders,
        (customer.c_custkey == orders.o_custkey) & (orders.o_orderstatus == "F"),
        "left",
    )
    return joined.groupBy("c_custkey", "c_name").agg(
        F.count("o_orderkey").alias("n_orders")
    )


@register(
    "e3_join_full_outer",
    oracle="""
    WITH big_cust AS (
      SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 7500
    ), urgent AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_urgent
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
    )
    SELECT b.c_custkey, b.c_name, u.o_custkey, u.n_urgent
    FROM big_cust b FULL OUTER JOIN urgent u ON b.c_custkey = u.o_custkey
    """,
    tags=("relational", "join"),
)
def e3_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big_cust = customer.filter(F.col("c_acctbal") > 7500).select(
        "c_custkey", "c_name"
    )
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_urgent"))
    )
    return big_cust.join(
        urgent, big_cust.c_custkey == urgent.o_custkey, "full_outer"
    ).select("c_custkey", "c_name", "o_custkey", "n_urgent")


@register(
    "e3_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    """,
    tags=("relational", "join"),
)
def e3_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no urgent orders (every customer
    has *some* order in the fixtures, so the urgent filter keeps the
    result non-trivial)."""
    customer = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "e3_star_join_revenue",
    oracle="""
    SELECT r.r_name AS region,
           n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    tags=("relational", "join", "bench:headline"),
)
def e3_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact (lineitem) against an orders bridge and three
    dimensions. nation/region broadcast by explicit hint (fixed
    cardinality at every SF); customer — which GROWS with SF — is
    AQE's runtime call: broadcast at fixture scale, shuffle at 100 TB
    where customer is billions of rows (VERDICT r04 item 4 posture).
    The only guaranteed fact shuffle is lineitem⋈orders on orderkey
    plus the final tiny aggregation — the plan shape that survives
    100 TB: one fact shuffle, everything else map-side or
    AQE-degradable one join at a time."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    enriched_orders = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("o_orderkey", "n_name", "r_name")
    )
    return (
        li.join(enriched_orders, li.l_orderkey == enriched_orders.o_orderkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# E4 — range join + as-of join
# ---------------------------------------------------------------------------
@register(
    "e4_range_join",
    oracle="""
    SELECT a.event_id AS first_event, b.event_id AS follow_event
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
    tags=("relational", "join"),
)
def e4_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: per-user event pairs within a 30-minute
    follow window. Catalyst executes the user_id equality as the join
    key and the time range as a post-join filter — the scalable form
    whenever an equi-key exists (validity-window lookups on the
    reference's Date From/Date To columns are this exact shape)."""
    events = load_table(spark, sf_dir, "events")
    a = events.select(
        F.col("event_id").alias("first_event"),
        F.col("user_id"),
        F.col("ts").alias("a_ts"),
    )
    b = events.select(
        F.col("event_id").alias("follow_event"),
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
    )
    cond = (
        (a.user_id == b.b_user)
        & (b.b_ts > a.a_ts)
        & (b.b_ts <= a.a_ts + F.expr("INTERVAL 30 MINUTES"))
    )
    return a.join(b, cond).select("first_event", "follow_event")


@register(
    "e4_asof_join",
    oracle="""
    SELECT e.event_id, e.user_id,
           o.o_orderkey, round(o.o_totalprice, 2) AS last_order_total
    FROM events e
    ASOF LEFT JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    tags=("relational", "join", "asof", "bench:headline"),
)
def e4_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the user's most recent order at
    event time. Implemented union+sort+carry-forward (operators/asof),
    one shuffle, no pairwise blow-up — see module docstring. Oracle is
    DuckDB's native ASOF LEFT JOIN."""
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "user_id"
    )
    joined = asof_join(
        events.select("event_id", "user_id", "ts"),
        orders.select("user_id", "o_orderdate", "o_orderkey", "o_totalprice"),
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("last_order_total"),
    )


# ---------------------------------------------------------------------------
# E5 — window functions
# ---------------------------------------------------------------------------
@register(
    "e5_window_ranks",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank() OVER w AS BIGINT) AS rk,
           CAST(dense_rank() OVER w AS BIGINT) AS drk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    tags=("relational", "window"),
)
def e5_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank share one window definition → one
    shuffle+sort serves all three."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rk"),
        F.dense_rank().over(w).cast("long").alias("drk"),
    )


@register(
    "e5_window_lag_lead",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(lag(o_totalprice) OVER w, 2) AS prev_total,
           round(lead(o_totalprice) OVER w, 2) AS next_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("relational", "window"),
)
def e5_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_total"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_total"),
    )


@register(
    "e5_window_running_sum",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_total
    FROM orders
    """,
    tags=("relational", "window", "bench:headline"),
)
def e5_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum with an explicit ROWS frame (deterministic under
    ties, unlike the default RANGE frame)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


# ---------------------------------------------------------------------------
# E6 — top-k per group
# ---------------------------------------------------------------------------
@register(
    "e6_topk_per_group",
    oracle="""
    SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS total,
           CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             row_number() OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY o.o_totalprice DESC, o.o_orderkey
             ) AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rn <= 3
    """,
    tags=("relational", "window", "bench:headline"),
)
def e6_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment. Spark's WindowGroupLimit
    physical rule keeps only k rows per group through the sort — it
    never fully ranks each group."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # customer grows with SF: AQE decides the join (broadcast at
    # fixture scale); the window below is the query's real cost
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select("c_mktsegment", "o_orderkey", "o_totalprice")
    topk = top_k_per_group(
        joined,
        ["c_mktsegment"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    )
    return topk.select(
        "c_mktsegment",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total"),
        F.col("rn").cast("long").alias("rn"),
    )


# ---------------------------------------------------------------------------
# E7 — set operations
# ---------------------------------------------------------------------------
@register(
    "e7_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("relational", "setop"),
)
def e7_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics, same as SQL)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.intersect(b)


@register(
    "e7_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
    tags=("relational", "setop"),
)
def e7_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers without any pending ('P') order."""
    customer = load_table(spark, sf_dir, "customer")
    pending = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "P"
    )
    return customer.select("c_custkey").exceptAll(
        pending.select(F.col("o_custkey").alias("c_custkey"))
    ).distinct()


# ---------------------------------------------------------------------------
# E13 — percentiles (exact) + approx aggregates (rows-only check)
# ---------------------------------------------------------------------------
@register(
    "e13_percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
           round(max(o_totalprice), 2) AS mx
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("relational", "agg"),
)
def e13_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`). The approx variant is e13_approx below; at
    100 TB you reach for that one."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90"),
        F.round(F.max("o_totalprice"), 2).alias("mx"),
    )


@register(
    "e13_approx_aggs",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS hll_orders_ok,
           TRUE AS hll_parts_ok,
           TRUE AS approx_p50_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("relational", "agg", "approx"),
)
def e13_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — HLL++ distinct counts and GK-sketch
    percentiles, the 100 TB substitutes for exact countDistinct /
    percentile (bounded memory, one pass, mergeable sketches).

    Sketch outputs are engine-specific, so the oracle contract is a
    *bound check*: Spark emits the exact values plus booleans asserting
    each sketch landed within its published error bound (HLL++ default
    rsd=5% → we allow 3×rsd; GK accuracy 10000 → ≤1% relative on the
    median). DuckDB emits the same exact values and constant TRUE —
    the hash only matches when every sketch is in-bound, making the
    approximate path fully gateable."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_orderkey").alias("hll_orders"),
        F.approx_count_distinct("l_partkey").alias("hll_parts"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50_exact"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "p50_approx"
        ),
    )

    def within(approx: str, exact: str, rel: float):
        return (
            F.abs(F.col(approx) - F.col(exact)) / F.col(exact) <= F.lit(rel)
        )

    return agg.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        within("hll_orders", "exact_orders", 0.15).alias("hll_orders_ok"),
        within("hll_parts", "exact_parts", 0.15).alias("hll_parts_ok"),
        within("p50_approx", "p50_exact", 0.01).alias("approx_p50_ok"),
    )


# ---------------------------------------------------------------------------
# E2 cont. — explicit GROUPING SETS; E3 cont. — right join;
# E1/E7 cont. — pivot/unpivot; E5 cont. — distribution window functions
# ---------------------------------------------------------------------------
@register(
    "e2_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           round(sum(o_totalprice), 2) AS total,
           CAST(count(*) AS BIGINT) AS n,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
             AS gid
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("relational", "agg"),
)
def e2_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary grouping sets (not expressible as one rollup/cube):
    per-status totals, per-priority totals, and the grand total in a
    single Expand-based pass — no repeated scans. gid is built from
    per-column grouping() so both engines label set membership
    identically."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.count(F.lit(1)).alias("n"),
            (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
            .cast("long")
            .alias("gid"),
        )
    )


@register(
    "e3_join_right",
    oracle="""
    SELECT c.c_custkey,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS total
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
    tags=("relational", "join"),
)
def e3_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (customers kept even with zero orders) +
    per-customer counts. count(col) skips NULLs in both engines, so
    order-less customers report 0."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(
            customer, orders.o_custkey == customer.c_custkey, "right_outer"
        )
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0)), 2).alias("total"),
        )
    )


@register(
    "e1_pivot",
    oracle="""
    SELECT o_orderpriority,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("relational", "agg", "pivot"),
)
def e1_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): order totals per priority × status. Explicit
    value list ('F','O','P') keeps the output schema static — at scale
    an unlisted pivot forces an extra distinct-values job and a
    driver-side schema round-trip; always list the values."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )


@register(
    "e1_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, val FROM (
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
             round(l_quantity, 2) AS val
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', round(l_extendedprice, 2)
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', round(l_discount, 2)
      FROM lineitem
    ) WHERE l_orderkey % 100 = 0
    """,
    tags=("relational", "pivot"),
)
def e1_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide→long): three measure columns become
    (measure, val) rows — Spark's Expand operator, one pass, no joins
    (vs. the UNION ALL of scans the SQL form implies). Sampled by
    orderkey to keep the driver comparison small."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity", 2).alias("l_quantity"),
        F.round("l_extendedprice", 2).alias("l_extendedprice"),
        F.round("l_discount", 2).alias("l_discount"),
    ).unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@register(
    "e5_window_distribution",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(nth_value(o_totalprice, 2) OVER (
             PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS second_lowest
    FROM orders
    WHERE o_orderstatus = 'P'
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("relational", "window"),
)
def e5_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank/cume_dist/ntile/
    nth_value). The order key includes o_orderkey so the total order is
    unique — ntile's tie-assignment would otherwise be engine-defined
    and the hash comparison meaningless."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "P"
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.nth_value("o_totalprice", 2).over(wf), 2).alias("second_lowest"),
    )


@register(
    "e13_exact_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("relational", "agg"),
)
def e13_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct counts per group (the Expand-based
    multi-distinct plan). The exact counterpart to e13_approx_aggs —
    at 100 TB the HLL sketch is the default and this is the audit
    path."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# §2.8 extended — scalar function sweeps; SQL entry path
# ---------------------------------------------------------------------------
@register(
    "x_datetime_functions",
    oracle="""
    SELECT event_id,
           epoch_ms(date_trunc('day', ts)) AS day_ms,
           epoch_ms(date_trunc('hour', ts)) AS hour_ms,
           CAST(extract(hour FROM ts) AS BIGINT) AS h,
           CAST(extract(minute FROM ts) AS BIGINT) AS m,
           CAST(extract(year FROM ts) AS BIGINT) AS y,
           CAST(extract(month FROM ts) AS BIGINT) AS mon,
           CAST(extract(dow FROM ts) AS BIGINT) AS dow0,
           epoch_ms(ts + INTERVAL 90 MINUTE) AS plus90_ms
    FROM events
    """,
    tags=("relational", "scalar"),
)
def x_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar sweep: truncation, field extraction, interval
    arithmetic. All built-ins, scan+project. Day-of-week is normalized
    to Sunday=0 on both engines (Spark dayofweek is Sunday=1, DuckDB
    dow is Sunday=0)."""
    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    return ev.select(
        "event_id",
        F.unix_millis(F.date_trunc("day", ts)).alias("day_ms"),
        F.unix_millis(F.date_trunc("hour", ts)).alias("hour_ms"),
        F.hour(ts).cast("long").alias("h"),
        F.minute(ts).cast("long").alias("m"),
        F.year(ts).cast("long").alias("y"),
        F.month(ts).cast("long").alias("mon"),
        (F.dayofweek(ts) - 1).cast("long").alias("dow0"),
        F.unix_millis(ts + F.expr("INTERVAL 90 MINUTES")).alias("plus90_ms"),
    )


@register(
    "x_string_functions",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS up,
           lower(c_mktsegment) AS seg,
           substr(c_name, 1, 8) AS prefix,
           CAST(length(c_name) AS BIGINT) AS n,
           replace(c_name, 'Customer', 'Cust') AS repl,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
           concat_ws('|', c_mktsegment, c_name) AS joined,
           CAST(strpos(c_name, '#') AS BIGINT) AS hashpos,
           reverse(c_mktsegment) AS rev,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS lowvowel
    FROM customer
    """,
    tags=("relational", "scalar"),
)
def x_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar sweep (upper/lower/substr/length/replace/lpad/
    concat_ws/instr/reverse/translate) — the §2.8 family generalized;
    scan+project, codegen'd."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.lower("c_mktsegment").alias("seg"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.length("c_name").cast("long").alias("n"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("repl"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("joined"),
        F.instr("c_name", "#").cast("long").alias("hashpos"),
        F.reverse("c_mktsegment").alias("rev"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("lowvowel"),
    )


@register(
    "e1_string_agg_ordered",
    oracle="""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_supps,
           string_agg(s.s_name, '|' ORDER BY s.s_name) AS supplier_list
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    tags=("relational", "agg"),
)
def e1_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered list aggregation: collect_list is order-nondeterministic
    after a shuffle, so it is ALWAYS wrapped in sort_array (or a
    window pre-sort) when output order matters — emitted here as a
    joined string to keep the comparison type-simple."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_supps"),
            F.array_join(F.sort_array(F.collect_list("s_name")), "|").alias(
                "supplier_list"
            ),
        )
    )


@register(
    "e1_conditional_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
           round(sum(o_totalprice) FILTER (WHERE o_totalprice > 100000), 2)
             AS big_total,
           round(avg(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2)
             AS avg_f
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("relational", "agg"),
)
def e1_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER clause / count_if / sum-case) —
    one pass over the fact instead of N filtered scans."""
    o = load_table(spark, sf_dir, "orders")
    f_status = lambda s: F.col("o_orderstatus") == s  # noqa: E731
    return o.groupBy("o_orderpriority").agg(
        F.count_if(f_status("F")).alias("n_f"),
        F.count_if(f_status("O")).alias("n_o"),
        F.round(
            F.sum(F.when(F.col("o_totalprice") > 100000, F.col("o_totalprice"))), 2
        ).alias("big_total"),
        F.round(F.avg(F.when(f_status("F"), F.col("o_totalprice"))), 2).alias(
            "avg_f"
        ),
    )


@register(
    "q_sql_correlated_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
    FROM orders o
    WHERE o_totalprice > (
      SELECT 1.5 * avg(o2.o_totalprice) FROM orders o2
      WHERE o2.o_custkey = o.o_custkey
    )
    """,
    tags=("relational", "sql"),
)
def q_sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry path (SURVEY §3.4): a correlated scalar subquery
    submitted as text — Catalyst decorrelates it into an aggregate +
    join (no per-row re-execution; confirm via explain: one Aggregate,
    one Join). Identical SQL runs on both engines."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        FROM orders o
        WHERE o_totalprice > (
          SELECT 1.5 * avg(o2.o_totalprice) FROM orders o2
          WHERE o2.o_custkey = o.o_custkey
        )
        """
    )


# ---------------------------------------------------------------------------
# E13 cont. — mergeable Datasketches HLL rollup, width_bucket histogram,
# bivariate statistics (corr / covariance / linear regression)
# ---------------------------------------------------------------------------
@register(
    "e13_hll_sketch_rollup",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS hll_merged_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("relational", "agg", "approx", "sketch"),
)
def e13_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Datasketches HLL rollup — the pattern that makes
    distinct-count rollups feasible at 100 TB: build one bounded-size
    sketch per fine-grained cell (`hll_sketch_agg`), then roll up to
    coarser grains by merging the *sketches* (`hll_union_agg`), never
    re-touching the raw data. Re-aggregating exact distincts requires a
    full re-shuffle of base rows per grain; sketch merge moves only
    KB-sized binaries. The oracle contract is the bound-check shape of
    e13_approx_aggs: exact distinct plus a boolean asserting the merged
    estimate lands within 3x the sketch's published rsd (lgConfigK=12
    -> ~1.6%); DuckDB emits the same exact values and constant TRUE."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk")
    )
    merged = cells.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("hll_est")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    return exact.join(merged, "l_returnflag").select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("hll_est") - F.col("exact_orders"))
            / F.col("exact_orders")
            <= F.lit(0.05)
        ).alias("hll_merged_ok"),
    )


@register(
    "e13_histogram",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 500000 THEN 11
                ELSE CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) + 1
           END AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    """,
    tags=("relational", "agg"),
)
def e13_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via `width_bucket` — equi-width binning as
    a pure codegen expression (no UDF, no driver round-trip for bin
    edges), so the histogram of a 100 TB column is one map-side
    bucket-assign + one tiny shuffle on <=n_buckets+2 keys. The oracle
    reproduces width_bucket's floor((v-lo)/bucket_width)+1 semantics
    arithmetically (DuckDB lacks the function); boundary behavior is
    identical because bucket edges (multiples of 50000) and 2-decimal
    prices are both exactly representable in doubles."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.width_bucket(
                "o_totalprice", F.lit(0.0), F.lit(500000.0), F.lit(10)
            ).alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "e13_corr_regression",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp,
           round(stddev_samp(l_extendedprice), 2) AS sd_price,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("relational", "agg", "stats"),
)
def e13_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics as distributive aggregates: corr, sample
    covariance, and OLS slope/intercept (regr_*) all reduce to the five
    moment sums (n, Sx, Sy, Sxx, Sxy), so Spark computes them with
    map-side partial aggregation and a constant-size merge — one scan,
    one tiny shuffle, no second pass. That is the 100 TB contract for
    feature-correlation audits: cost identical to a sum(). Both engines
    implement the same textbook estimators; outputs are rounded (4dp
    for unit-scale ratios, 2dp for price-scale moments) to absorb
    float merge-order jitter far below the rounding grain."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qp"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias(
            "slope"
        ),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias(
            "intercept"
        ),
    )
