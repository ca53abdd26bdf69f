"""TPC-H suite completion (SURVEY §2.13 round-4 additions).

Rounds 1-3 implemented the join-order showcases Q1/Q3/Q5/Q7/Q10/Q14/
Q18/Q19; this module adds the remaining fourteen query *shapes* — Q2,
Q4, Q6, Q8, Q9, Q11, Q12, Q13, Q15, Q16, Q17, Q20, Q21, Q22 — so every
TPC-H access pattern (correlated min, EXISTS/NOT-EXISTS semi/anti
chains, scalar-subquery thresholds, conditional-ratio shares, IN-with-
HAVING, distribution-of-counts) has a tested, plan-audited PySpark
expression. The fixture schema is TPC-H-ish, not TPC-H: there is no
partsupp table and no comment/phone/shipmode/commitdate/receiptdate
columns, so the affected queries keep the *shape* (the join topology,
subquery structure, and physical-plan challenge) over substitute
columns; each docstring states the substitution.

Scale posture shared by all fourteen: explicit ``F.broadcast``
hints are reserved for frames whose size does NOT grow with the
scale factor — region (5 rows), nation (25 rows), one-row scalar
thresholds, and provably-tiny derived sets (Q15's argmax winners).
Supplier/part/customer slices DO grow with SF, so their joins are
AQE's runtime size call: broadcast at fixture scale, shuffle join at
100 TB where a 1/25 slice of part is hundreds of millions of rows
(VERDICT r04 item 4). Fact-to-fact joins (lineitem×orders) shuffle
on the join key once and AQE handles skew; aggregates are
partial-before-shuffle everywhere (plain groupBy of built-in
expressions). Scalar-subquery thresholds (Q11, Q17, Q22) become a
one-row broadcast-joined frame, never a driver round-trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import broadcast_if_storage_small, load_table
from .registry import register


def _t(spark, sf_dir, *names):
    return [load_table(spark, sf_dir, n) for n in names]


# --------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated MIN subquery)
# --------------------------------------------------------------------------
@register(
    "e6_q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice * (1 - l_discount)) AS supply_cost
      FROM lineitem GROUP BY 1, 2
    ), eu AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ), cand AS (
      SELECT p.p_partkey, eu.s_name, eu.s_acctbal, eu.n_name,
             ps.supply_cost,
             min(ps.supply_cost) OVER (PARTITION BY p.p_partkey) AS best
      FROM ps
      JOIN part p ON ps.l_partkey = p.p_partkey
      JOIN eu ON ps.l_suppkey = eu.s_suppkey
      WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
    )
    SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey,
           round(supply_cost, 4) AS supply_cost
    FROM cand WHERE supply_cost = best
    """,
    tags=("relational", "join", "subquery", "bench:showcase"),
)
def e6_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — for each qualifying part, the EUROPE supplier
    offering the minimum supply cost (correlated MIN subquery,
    decorrelated into a per-part window min). Substitution: no partsupp
    table, so the part↔supplier catalog is derived from lineitem
    (min observed discounted price per (part, supplier) = supply cost;
    a 4-decimal-exact measure, so the 4dp output rounding can never
    land on a cross-engine half-tie — price/quantity division would).

    Plan: the derived catalog is the only big aggregate (one shuffle on
    (partkey, suppkey)); part is filtered *before* its join (~1/300
    selectivity) and the supplier→nation→region chain is pre-collapsed.
    Only region/nation — frames whose size does NOT grow with the
    scale factor — carry unconditional broadcast hints. The filtered
    part slice is left to AQE's runtime size check (a plain filter
    estimates fine statically); the JOIN-DERIVED europe-supplier
    slice gets a SIZE-GUARDED hint (broadcast_if_storage_small) —
    join-output estimates defeat the static planner, and at TPC-H
    SF≈100k the guard declines because supplier's scan is TB-sized,
    where a forced broadcast would OOM (VERDICT r04 item 4). The window min re-uses the part join's partitioning — at
    100 TB the fact table is touched once."""
    li, p, s, n, r = _t(spark, sf_dir, "lineitem", "part", "supplier", "nation", "region")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("supply_cost")
    )
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pk = p.filter((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
    cand = (
        ps.join(pk, ps.l_partkey == pk.p_partkey)
        .join(
            broadcast_if_storage_small(eu, s, n, r),
            ps.l_suppkey == eu.s_suppkey,
        )
        .withColumn(
            "best", F.min("supply_cost").over(Window.partitionBy("p_partkey"))
        )
        .filter(F.col("supply_cost") == F.col("best"))
    )
    return cand.select(
        F.round("s_acctbal", 2).alias("s_acctbal"),
        "s_name",
        "n_name",
        "p_partkey",
        F.round("supply_cost", 4).alias("supply_cost"),
    )


# --------------------------------------------------------------------------
# Q4 — order priority checking (EXISTS semi join)
# --------------------------------------------------------------------------
@register(
    "e6_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    tags=("relational", "join", "semi", "bench:showcase"),
)
def e6_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — count orders per priority having at least one
    line shipped after the order date (EXISTS → left-semi join).
    Substitution: the fixture has no l_commitdate/l_receiptdate, so the
    lateness predicate is l_shipdate > o_orderdate.

    Plan: the quarter filter pushes into the orders scan; the EXISTS
    becomes one LeftSemi hash join on l_orderkey (no duplication,
    short-circuits per key); the final groupBy is over the ~1/26
    surviving orders."""
    o, li = _t(spark, sf_dir, "orders", "lineitem")
    o = o.filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    late = li.select("l_orderkey", "l_shipdate")
    semi = o.join(
        late,
        (o.o_orderkey == late.l_orderkey) & (late.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


# --------------------------------------------------------------------------
# Q6 — forecast revenue change (scan-only filter + agg)
# --------------------------------------------------------------------------
@register(
    "e6_q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("relational", "agg", "bench:showcase"),
)
def e6_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — the purest pushdown test: three conjunctive filters
    and one global sum over lineitem, no join. All three predicates
    must reach the parquet scan (PushedFilters) and the projection must
    prune to 4 columns; the aggregate is a map-side partial + single
    exchange of one row per task. At 100 TB this is the query where
    scan-level min/max pruning does nearly all the work."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4)
            .alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Q8 — national market share (conditional-ratio over a 6-table join)
# --------------------------------------------------------------------------
@register(
    "e6_q8_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN part p     ON l.l_partkey = p.p_partkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
      JOIN region r   ON cn.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    )
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume
                          ELSE 0 END) / sum(volume), 4) AS mkt_share
    FROM vol GROUP BY o_year
    """,
    tags=("relational", "join", "agg", "bench:showcase"),
)
def e6_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — NATION_7's share of AMERICA-customer ECONOMY-
    part revenue per order year: the widest join in the suite (lineitem
    × part × orders × customer × nation × region × supplier × nation)
    feeding a conditional-sum ratio. Substitution: p_type is a flat
    enum here, so the part filter is equality, and the nation under
    test is a fixture nation name.

    Plan: only nation and region — fixed-cardinality at every scale
    factor — carry explicit broadcast hints (nation twice, under two
    roles — Spark handles the self-join via distinct attribute ids).
    The ECONOMY part slice, the AMERICA customer set, and supplier all
    GROW with the scale factor: the plain-filter slices are AQE's
    runtime size call, and the join-derived AMERICA customer set
    carries a SIZE-GUARDED hint (broadcast_if_storage_small — static
    estimation fails on join outputs; the guard declines at 100 TB
    where a 1/25 slice of part is hundreds of millions of rows,
    VERDICT r04 item 4). The remaining shuffles are the two fact-fact
    joins (l×o on orderkey) and the final 2-group aggregate. The CASE
    ratio is one pass — never two scans of the joined product."""
    li, p, o, c, n, r, s = _t(
        spark, sf_dir,
        "lineitem", "part", "orders", "customer", "nation", "region", "supplier",
    )
    n2 = n.select(
        F.col("n_nationkey").alias("sn_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    cust_am = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "AMERICA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    vol = (
        li.join(p.filter(F.col("p_type") == "ECONOMY"),
                li.l_partkey == p.p_partkey)
        .join(o.filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1997-01-01")),
            li.l_orderkey == o.o_orderkey)
        .join(
            broadcast_if_storage_small(cust_am, c, n, r),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_nationkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_7", F.col("volume"))
                  .otherwise(0.0))
            / F.sum("volume"),
            4,
        ).alias("mkt_share")
    )


# --------------------------------------------------------------------------
# Q9 — product-type profit (join + derived profit measure)
# --------------------------------------------------------------------------
@register(
    "e6_q9_product_profit",
    oracle="""
    SELECT sn.n_name AS nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)
                     - 0.5 * p.p_retailprice * l.l_quantity), 4) AS profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
    tags=("relational", "join", "agg", "bench:showcase"),
)
def e6_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — profit on 'widget' parts per supplier nation
    and order year. Substitution: no partsupp.ps_supplycost, so cost is
    modeled as 0.5 × p_retailprice × quantity (same join topology, same
    arithmetic shape inside the aggregate). The exact profit is a
    4-decimal value (2dp×2dp − 1dp×int×0.5), so rounding to 4dp is
    tie-free across engines — rounding to 2dp would sit exactly on
    half-cent boundaries and flip on float sum order.

    Plan: the p_name LIKE filter cuts part before its join
    (substring filters can't push to parquet as range stats — the
    fact-side row cut happens at the join). The filtered part set and
    supplier grow with the scale factor, so both joins are AQE's
    runtime call rather than forced broadcasts (VERDICT r04 item 4);
    nation keeps its hint. The one big shuffle is lineitem×orders
    on orderkey, then a partial-agg'd 2-key groupBy."""
    li, p, s, n, o = _t(
        spark, sf_dir, "lineitem", "part", "supplier", "nation", "orders"
    )
    return (
        li.join(p.filter(F.col("p_name").like("%widget%")),
                li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
                ),
                4,
            ).alias("profit")
        )
    )


# --------------------------------------------------------------------------
# Q11 — important stock identification (scalar-subquery threshold)
# --------------------------------------------------------------------------
@register(
    "e6_q11_important_stock",
    oracle="""
    WITH natl AS (
      SELECT l.l_partkey, l.l_extendedprice * l.l_quantity AS val
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_3'
    )
    SELECT l_partkey, round(sum(val), 2) AS stock_value
    FROM natl
    GROUP BY l_partkey
    HAVING sum(val) > (SELECT sum(val) * 0.005 FROM natl)
    """,
    tags=("relational", "agg", "subquery", "bench:showcase"),
)
def e6_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — parts whose NATION_3-supplied value exceeds a
    fraction of the national total (HAVING against a scalar subquery).
    Substitution: value is lineitem extendedprice×quantity instead of
    partsupp supplycost×availqty.

    Plan: the national slice computes ONCE (nation broadcasts into
    supplier; the resulting supplier slice grows with SF, so its join
    into lineitem is AQE-decided, not force-broadcast — VERDICT r04
    item 4), then both the per-part aggregate and the global
    total derive from it; the global total is a one-row frame cross-
    broadcast into the HAVING filter — no driver collect, no second
    scan of the fact table at 100 TB (Spark re-reads the slice, but
    the slice is the post-join minority; a production pipeline would
    cache it — at fixture scale recompute is cheaper than cache)."""
    li, s, n = _t(spark, sf_dir, "lineitem", "supplier", "nation")
    nat_supp = (
        s.join(F.broadcast(n.filter(F.col("n_name") == "NATION_3")),
               s.s_nationkey == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    natl = li.join(
        nat_supp, li.l_suppkey == F.col("s_suppkey")
    ).select(
        "l_partkey",
        (F.col("l_extendedprice") * F.col("l_quantity")).alias("val"),
    )
    per_part = natl.groupBy("l_partkey").agg(F.sum("val").alias("value"))
    total = natl.agg((F.sum("val") * 0.005).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("l_partkey", F.round("value", 2).alias("stock_value"))
    )


# --------------------------------------------------------------------------
# Q12 — shipping modes / priority correlation (conditional counts)
# --------------------------------------------------------------------------
@register(
    "e6_q12_priority_by_returnflag",
    oracle="""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag
    """,
    tags=("relational", "join", "agg", "bench:showcase"),
)
def e6_q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — per shipping category, how many lines belong
    to high- vs low-priority orders (two CASE counts in one pass).
    Substitution: the fixture has no l_shipmode/l_commitdate/
    l_receiptdate, so the grouping key is l_returnflag and the date
    predicate is a ship-year window.

    Plan: year filter pushes into the lineitem scan BEFORE the
    orders join (the join sees ~1/6 of lineitem); one shuffle on
    orderkey, one 3-group aggregate; both CASE sums share the single
    joined pass."""
    li, o = _t(spark, sf_dir, "lineitem", "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Q13 — customer order-count distribution (left join + double aggregate)
# --------------------------------------------------------------------------
@register(
    "e6_q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                         AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
    tags=("relational", "join", "agg", "bench:showcase"),
)
def e6_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 — the distribution of per-customer order counts,
    including zero-order customers (the LEFT JOIN is load-bearing:
    an inner join silently drops the c_count=0 bucket). Substitution:
    the order-exclusion predicate is on o_orderpriority instead of the
    nonexistent o_comment regex.

    Plan: the join-side filter applies BEFORE the left join (pushed to
    the orders scan — it's on the preserved side's partner, so pushdown
    is safe); count(o_orderkey) over the null-extended rows gives 0 for
    order-less customers; the second aggregate is over one row per
    customer — tiny. Two shuffles total (custkey, then c_count)."""
    c, o = _t(spark, sf_dir, "customer", "orders")
    per_cust = (
        c.join(
            o.filter(F.col("o_orderpriority") != "5-LOW"),
            c.c_custkey == o.o_custkey,
            "left",
        )
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


# --------------------------------------------------------------------------
# Q15 — top supplier (aggregate + MAX scalar subquery)
# --------------------------------------------------------------------------
@register(
    "e6_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, round(rev.total_rev, 4) AS total_rev
    FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
    WHERE rev.total_rev = (SELECT max(total_rev) FROM rev)
    """,
    tags=("relational", "agg", "subquery", "bench:showcase"),
)
def e6_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 — the supplier(s) with maximum quarterly revenue
    (the view + scalar MAX subquery form; ties all returned, exactly
    as the spec requires — NOT a LIMIT 1).

    Plan: quarter filter pushes to the scan; revenue aggregates on
    l_suppkey (one shuffle, partial-agg'd); the MAX-and-filter runs as
    a global window over the PER-SUPPLIER aggregate — measured
    alternative: deriving the max as a separate `rev.agg(max)` branch
    got no runtime exchange reuse and scanned lineitem twice; the
    window form computes the aggregate once and pays one extra
    exchange over supplier-cardinality rows (post-agg, dimension-
    sized at any SF — the single-partition window never sees fact
    rows). The supplier lookup broadcasts the WINNERS (max-revenue
    ties, a handful of rows at any SF) into supplier — not the other
    way around: supplier grows with SF, so hinting it would OOM at
    100 TB (VERDICT r04 item 4)."""
    li, s = _t(spark, sf_dir, "lineitem", "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1997-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("total_rev")
        )
    )
    best = rev.withColumn(
        "best_rev", F.max("total_rev").over(Window.partitionBy())
    )
    return (
        F.broadcast(best.filter(F.col("total_rev") == F.col("best_rev")))
        .join(s, best.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", F.round("total_rev", 4).alias("total_rev"))
    )


# --------------------------------------------------------------------------
# Q16 — parts/supplier relationship (anti-set + COUNT DISTINCT)
# --------------------------------------------------------------------------
@register(
    "e6_q16_part_supplier_counts",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN part p ON ps.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                               WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
    tags=("relational", "join", "agg", "bench:showcase"),
)
def e6_q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — distinct supplier counts per (brand, type,
    size) for non-excluded parts, minus blacklisted suppliers (NOT IN
    → anti join). Substitutions: the part↔supplier catalog derives
    from lineitem (no partsupp) and the supplier blacklist is negative
    account balance (no s_comment to regex).

    Plan: the distinct (partkey, suppkey) dedup is the one fact-sized
    shuffle; the negated part predicates can't prune much but DO push
    to the dimension scan; the blacklist anti join is NULL-safe by
    construction (keys are PKs); count(DISTINCT) re-shuffles only the
    already-deduped catalog. Both the blacklist (a supplier slice) and
    the filtered part set grow with the scale factor, so neither is
    force-broadcast — AQE's runtime size check picks broadcast at
    fixture scale and a shuffle join at 100 TB (VERDICT r04 item 4)."""
    li, p, s = _t(spark, sf_dir, "lineitem", "part", "supplier")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pk = p.filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    return (
        ps.join(bad, ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(pk, ps.l_partkey == pk.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated AVG subquery)
# --------------------------------------------------------------------------
@register(
    "e6_q17_small_qty_revenue",
    oracle="""
    WITH br AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = 'Brand#3'
    ), avgs AS (
      SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_thresh
      FROM br GROUP BY l_partkey
    )
    SELECT round(sum(br.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM br JOIN avgs ON br.l_partkey = avgs.l_partkey
    WHERE br.l_quantity < avgs.qty_thresh
    """,
    tags=("relational", "join", "agg", "subquery", "bench:showcase"),
)
def e6_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 — revenue lost to small-quantity orders: lines of one
    brand whose quantity is below 20% of that part's average quantity
    (correlated AVG, decorrelated into an aggregate + self-join).
    Substitution: no p_container column, so the brand filter alone
    selects the slice.

    Plan: the brand dimension filter joins into the fact FIRST, so
    both the per-part average and the final sum see only the brand's
    slice (~1/25). That slice of part grows with the scale factor, so
    its join is AQE's runtime size call rather than a forced broadcast
    (VERDICT r04 item 4 — ~1/25 of part at SF 100k is hundreds of
    millions of rows); the decorrelated aggregate joins back on
    l_partkey — co-partitioned with the slice, and AQE broadcasts it
    (post-agg it's one row per part). The fixture-scale plan is scan →
    broadcast join → agg → broadcast join → filter → agg: one shuffle."""
    li, p = _t(spark, sf_dir, "lineitem", "part")
    br = li.join(
        p.filter(F.col("p_brand") == "Brand#3"),
        li.l_partkey == p.p_partkey,
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    avgs = br.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        br.join(avgs, br.l_partkey == avgs.a_partkey)
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# Q20 — potential part promotion (nested IN subqueries with HAVING)
# --------------------------------------------------------------------------
@register(
    "e6_q20_promotion_suppliers",
    oracle="""
    SELECT s.s_name, round(s.s_acctbal, 2) AS s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        WHERE l.l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE '%red%')
          AND l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING sum(l.l_quantity) > 50
      )
    """,
    tags=("relational", "join", "semi", "subquery", "bench:showcase"),
)
def e6_q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — suppliers in target nations who moved more
    than a threshold quantity of 'red' parts this year (the nested
    IN → IN → HAVING chain). Substitution: without partsupp.availqty
    the threshold is absolute shipped quantity rather than half the
    stocked quantity — the subquery nesting (semi join into an
    aggregated-HAVING set into a name-filtered part set) is identical.

    Plan: innermost part set joins into the lineitem scan; the grouped
    HAVING aggregates on (suppkey, partkey) — one fact shuffle; the
    resulting supplier set is distinct-projected and the outer query is
    a left-semi join against supplier. Only nation (25 rows at every
    SF) keeps an explicit broadcast hint: the name-filtered part set
    and the movers supplier set both grow with the scale factor, so
    their join strategy is AQE's runtime call — broadcast at fixture
    scale, shuffle at 100 TB (VERDICT r04 item 4)."""
    li, p, s, n = _t(spark, sf_dir, "lineitem", "part", "supplier", "nation")
    red = p.filter(F.col("p_name").like("%red%")).select("p_partkey")
    movers = (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(red, li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    nat = n.filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
    return (
        s.join(F.broadcast(nat), s.s_nationkey == nat.n_nationkey)
        .join(movers, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
    )


# --------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS chain)
# --------------------------------------------------------------------------
@register(
    "e6_q21_suppliers_kept_waiting",
    oracle="""
    WITH l AS (
      SELECT l_orderkey, l_suppkey, l_shipdate
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    ), per_order AS (
      SELECT l_orderkey,
             max(l_shipdate) AS max_ship,
             count(DISTINCT l_suppkey) AS n_supp
      FROM l GROUP BY l_orderkey
    ), blame AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM l
      JOIN per_order po ON l.l_orderkey = po.l_orderkey
      WHERE po.n_supp > 1 AND l.l_shipdate = po.max_ship
      GROUP BY l.l_orderkey, l.l_suppkey
    ), sole AS (
      SELECT l_orderkey FROM blame
      GROUP BY l_orderkey HAVING count(*) = 1
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM blame b
    JOIN sole ON b.l_orderkey = sole.l_orderkey
    JOIN supplier s ON b.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
    tags=("relational", "join", "agg", "subquery", "bench:showcase"),
)
def e6_q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — for finished orders with multiple suppliers,
    blame the unique supplier who shipped last; count blames per
    supplier. The original's EXISTS (another supplier on the order) +
    NOT EXISTS (another supplier also late) chain is expressed as
    aggregates: per-order max shipdate + distinct-supplier count, then
    'sole blame' = exactly one supplier at the max. Substitution:
    lateness is ship-last (no l_receiptdate/l_commitdate).

    Plan (single-pass form): collapse lineitem to one row per
    (orderkey, supplier) with that supplier's latest ship date — the
    only fact-sized aggregate — then ALL the order-level questions
    (order max, supplier count, how many suppliers attain the max)
    are window functions over the SAME l_orderkey partitioning: one
    Window node, one exchange, zero join-backs. A naive
    aggregate-then-rejoin formulation scanned lineitem+orders three
    times with 13 exchanges and no exchange reuse (measured); this
    form is one lineitem scan, three exchanges, and the blame filter
    + supplier lookup (AQE-decided: supplier grows with SF, so no
    forced broadcast — VERDICT r04 item 4). Timestamp equality (not
    float) keeps the max-attainment test exact on both engines."""
    li, o, s = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    l = (
        li.join(o.filter(F.col("o_orderstatus") == "F"),
                li.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    per_supp = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("s_max")
    )
    wk = Window.partitionBy("l_orderkey")
    at_max = F.col("s_max") == F.col("order_max")
    blamed = (
        per_supp.withColumn("order_max", F.max("s_max").over(wk))
        .withColumn("n_supp", F.count(F.lit(1)).over(wk))
        .withColumn(
            "n_at_max", F.sum(F.when(at_max, 1).otherwise(0)).over(wk)
        )
        .filter((F.col("n_supp") > 1) & at_max & (F.col("n_at_max") == 1))
    )
    return (
        blamed.join(s, blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# --------------------------------------------------------------------------
# Q22 — global sales opportunity (scalar AVG threshold + anti join)
# --------------------------------------------------------------------------
@register(
    "e6_q22_global_sales_opportunity",
    oracle="""
    WITH target AS (
      SELECT c.c_custkey, c.c_acctbal, c.c_nationkey
      FROM customer c
      WHERE c.c_nationkey IN (2, 4, 6, 8, 10, 12, 14)
    ), thresh AS (
      SELECT avg(c_acctbal) AS cutoff FROM target WHERE c_acctbal > 0
    )
    SELECT n.n_name AS cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(t.c_acctbal), 2) AS totacctbal
    FROM target t
    JOIN nation n ON t.c_nationkey = n.n_nationkey
    WHERE t.c_acctbal > (SELECT cutoff FROM thresh)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = t.c_custkey)
    GROUP BY n.n_name
    """,
    tags=("relational", "join", "anti", "subquery", "bench:showcase"),
)
def e6_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — well-funded customers in target countries who
    have never ordered: acctbal above the positive-balance average
    (scalar subquery) and no orders (NOT EXISTS → anti join), counted
    per country. Substitution: country selection is by c_nationkey
    (the fixture has no c_phone to take substring country codes from).

    Plan: the nation-set filter pushes to the customer scan; the AVG
    threshold is a one-row broadcast; the anti join against orders is
    the only fact-sized operation — it shuffles orders' o_custkey
    projection (one column!) against the small filtered customer side,
    and AQE flips it to broadcast once the customer side proves tiny.
    The rest is a dimension-sized groupBy."""
    c, o, n = _t(spark, sf_dir, "customer", "orders", "nation")
    target = c.filter(
        F.col("c_nationkey").isin(2, 4, 6, 8, 10, 12, 14)
    ).select("c_custkey", "c_acctbal", "c_nationkey")
    thresh = target.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("cutoff")
    )
    return (
        target.join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("cutoff"))
        .join(o.select("o_custkey"), target.c_custkey == F.col("o_custkey"),
              "left_anti")
        .join(F.broadcast(n), target.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )
