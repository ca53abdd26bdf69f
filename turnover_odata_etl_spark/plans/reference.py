"""Reference-parity queries (SURVEY §2.1–2.8, M0+M1).

Each query re-expresses one behavior of the reference pipeline
(mkov516/turnover-odata-etl, src/etl.py) over the driver's fixture
tables, as idiomatic DataFrame code, with a DuckDB oracle. Citations
point at the reference behavior being covered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.odata import odata_date_decode, odata_date_encode
from ..operators.relational import (
    dedup_rows,
    not_null_non_empty,
    rename_columns,
    reorder_columns,
)
from ..tables import load_table
from .registry import register


# ---------------------------------------------------------------------------
# M0 flagship — the whole reference pipeline shape in one query
# ---------------------------------------------------------------------------
@register(
    "flagship_turnover",
    oracle="""
    WITH codes AS (
      SELECT DISTINCT c_mktsegment AS Structure
      FROM customer WHERE c_acctbal >= 5000
    )
    SELECT DISTINCT
      c_name AS Employee,
      c_custkey AS employee_id,
      c_mktsegment AS Structure,
      round(c_acctbal, 2) AS Balance
    FROM customer
    WHERE c_mktsegment IN (SELECT Structure FROM codes)
      AND c_mktsegment IS NOT NULL AND c_mktsegment <> ''
    """,
    tags=("reference", "flagship", "bench:headline"),
)
def flagship_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline end-to-end (src/etl.py:124-209):
    distinct partition keys from a 'codes' query → per-key fetch of the
    main entity (expressed as ONE left-semi join, not a serial loop —
    SURVEY §2.9) → rename → not-null filter → dedup → sort.

    At scale: the codes side is tiny (distinct segments) so Catalyst
    broadcasts it; the main scan prunes to 3 columns; dedup is a
    partial-aggregated hash distinct. Zero driver-side iteration.
    """
    customer = load_table(spark, sf_dir, "customer")
    codes = (
        customer.filter(F.col("c_acctbal") >= 5000)
        .select(F.col("c_mktsegment"))
        .distinct()
    )
    main = customer.join(
        F.broadcast(codes), on="c_mktsegment", how="left_semi"
    )
    renamed = rename_columns(
        main.select(
            "c_name", "c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("Balance")
        ),
        {
            "Employee": "c_name",
            "employee_id": "c_custkey",
            "Structure": "c_mktsegment",
        },
    )
    shaped = reorder_columns(renamed, ["Employee", "employee_id", "Structure", "Balance"])
    filtered = not_null_non_empty(shaped, "Structure")
    return dedup_rows(filtered).orderBy("Structure", "employee_id")


# ---------------------------------------------------------------------------
# P2/P3 — rename with many-to-one coalesce + column reorder
# ---------------------------------------------------------------------------
@register(
    "p_rename_coalesce_reorder",
    oracle="""
    SELECT
      o_orderkey AS order_id,
      coalesce(
        CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority END,
        CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
      ) AS priority,
      round(o_totalprice, 2) AS total
    FROM orders
    """,
    tags=("reference",),
)
def p_rename_coalesce_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk rename map where two source spellings collapse into one
    output column (reference maps COCHAR_STRUCTURE and
    C0CHAR_STRUCTURE both to 'Structure', src/etl.py:53-64, producing a
    duplicated CSV header; we coalesce instead — SURVEY §1.3)."""
    orders = load_table(spark, sf_dir, "orders")
    with_candidates = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 2 == 0, F.col("o_orderpriority")).alias("PRIO_A"),
        F.when(F.col("o_orderkey") % 2 == 1, F.col("o_orderpriority")).alias("PRIO_B"),
        F.round("o_totalprice", 2).alias("total"),
    )
    renamed = rename_columns(
        with_candidates,
        {"order_id": "o_orderkey", "priority": ["PRIO_A", "PRIO_B"]},
    )
    return reorder_columns(renamed, ["order_id", "priority", "total"])


# ---------------------------------------------------------------------------
# P4 — stringify nested values (typed to_json, not str())
# ---------------------------------------------------------------------------
@register(
    "p_stringify_nested",
    oracle="""
    SELECT
      event_id,
      to_json(struct_pack(k := json_extract_string(props, '$.k')::INT)) AS props_json
    FROM events
    """,
    tags=("reference",),
)
def p_stringify_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested struct → JSON string at the sink boundary (reference
    str()'s every dict/list/set cell to make rows hashable,
    src/etl.py:180-183,209; to_json is the typed equivalent)."""
    from ..operators.relational import stringify_nested

    events = load_table(spark, sf_dir, "events")
    nested = events.select(
        "event_id",
        F.from_json("props", "k INT").alias("props_json"),
    )
    return stringify_nested(nested)


# ---------------------------------------------------------------------------
# F1 — equality predicate (pushed to the parquet scan)
# ---------------------------------------------------------------------------
@register(
    "f_eq_predicate",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("reference",),
)
def f_eq_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-equality predicate (reference pushes `$filter=f eq 'v'`
    to the server, src/etl.py:155-159; here Catalyst pushes it into the
    parquet scan — .explain shows PushedFilters: [EqualTo(...)])."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total")
    )


# ---------------------------------------------------------------------------
# F2 — not-null / non-empty truthiness filter
# ---------------------------------------------------------------------------
@register(
    "f_notnull_nonempty",
    oracle="""
    SELECT event_id, et FROM (
      SELECT event_id, nullif(event_type, 'error') AS et FROM events
    ) WHERE et IS NOT NULL AND et <> ''
    """,
    tags=("reference",),
)
def f_notnull_nonempty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truthiness filter on the partition key (src/etl.py:135): NULL
    and empty-string both drop."""
    events = load_table(spark, sf_dir, "events")
    with_nulls = events.select(
        "event_id", F.nullif(F.col("event_type"), F.lit("error")).alias("et")
    )
    return not_null_non_empty(with_nulls, "et")


# ---------------------------------------------------------------------------
# A1 + O1 — single-column distinct, sorted
# ---------------------------------------------------------------------------
@register(
    "a_distinct_sorted",
    oracle="SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    tags=("reference",),
)
def a_distinct_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fetch_distinct_structures: set() → sorted() (src/etl.py:135-136)
    = hash-distinct + sort; at scale a partial-agg distinct of a
    low-cardinality key is ~free."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select("c_mktsegment").distinct().orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# A2 — full-row dedup
# ---------------------------------------------------------------------------
@register(
    "a_dedup_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus, l_suppkey FROM lineitem",
    tags=("reference",),
)
def a_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_duplicates over all columns (src/etl.py:209)."""
    li = load_table(spark, sf_dir, "lineitem")
    return dedup_rows(li.select("l_returnflag", "l_linestatus", "l_suppkey"))


# ---------------------------------------------------------------------------
# A3 — count
# ---------------------------------------------------------------------------
@register(
    "a_count_rows",
    oracle="SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem",
    tags=("reference",),
)
def a_count_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row counts used as runtime assertions (src/etl.py:137,177,223)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("n_rows"))


# ---------------------------------------------------------------------------
# O1/O2 — sort + limit (deterministic total order)
# ---------------------------------------------------------------------------
@register(
    "o_sort_limit",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    tags=("reference",),
)
def o_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$top limit pushdown analog (src/etl.py:107,131,157). Spark
    compiles orderBy+limit to TakeOrderedAndProject — a per-partition
    top-k then a k-sized driver merge, no global sort, scale-safe."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# U1 — n-way schema-merging union
# ---------------------------------------------------------------------------
@register(
    "u_union_by_name",
    oracle="""
    SELECT c_custkey AS id, c_name AS name FROM customer
    UNION ALL BY NAME
    SELECT o_orderkey AS id, round(o_totalprice, 2) AS total FROM orders
    """,
    tags=("reference",),
)
def u_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-key union (reference unions dict keys across
    pages/partitions at from_records, src/etl.py:169-201): missing
    columns null-fill, matched by name not position."""
    from ..operators.relational import union_by_name

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = customer.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name"))
    b = orders.select(
        F.col("o_orderkey").alias("id"), F.round("o_totalprice", 2).alias("total")
    )
    return union_by_name([a, b])


# ---------------------------------------------------------------------------
# X7 — OData /Date(ms)/ codec
# ---------------------------------------------------------------------------
@register(
    "x_odata_date_roundtrip",
    oracle="""
    SELECT
      o_orderkey,
      '/Date(' || epoch_ms(o_orderdate)::VARCHAR || ')/' AS odata_str,
      epoch_ms(o_orderdate) AS ts_ms
    FROM orders
    """,
    tags=("reference",),
)
def x_odata_date_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OData V2 epoch-ms date wrapper encode+decode (the reference
    passes /Date(ms)/ strings through undecoded — data/
    employee_data.csv:2; we decode at the connector edge, SURVEY §2.8
    X7). Round-trips orders timestamps through the wire format."""
    orders = load_table(spark, sf_dir, "orders")
    encoded = orders.select(
        "o_orderkey", odata_date_encode("o_orderdate").alias("odata_str")
    )
    return encoded.withColumn(
        "ts_ms", F.unix_millis(odata_date_decode("odata_str"))
    )


# ---------------------------------------------------------------------------
# E12 — JSON functions over the props column
# ---------------------------------------------------------------------------
@register(
    "e12_json_extract",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
    tags=("reference", "json"),
)
def e12_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from a string column (the fixture `props`;
    the reference's __metadata dicts are the analog, SURVEY §2.8 E12)."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )




@register(
    "e12_from_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           props = to_json(json_transform(props, '{"k": "BIGINT"}')) AS roundtrips
    FROM events
    """,
    tags=("reference", "json"),
)
def e12_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-declared JSON parsing (from_json -> struct -> field
    access) plus a to_json round-trip check -- the typed counterpart of
    e12_json_extract's path extraction. At scale from_json with an
    explicit schema beats schema_of_json sampling (no extra job, stable
    types)."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.withColumn("p", F.from_json("props", "k bigint"))
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        (F.col("props") == F.to_json("p")).alias("roundtrips"),
    )


# ---------------------------------------------------------------------------
# C3 — empty-input short-circuit with stable schema
# ---------------------------------------------------------------------------
@register(
    "c3_empty_relation",
    oracle="SELECT c_custkey, c_name FROM customer WHERE 1 = 0",
    tags=("reference",),
)
def c3_empty_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-record input still yields a declared schema
    (reference returns a schema-less empty pandas frame,
    src/etl.py:197-199; Spark never drops the schema)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select("c_custkey", "c_name").filter(F.lit(False))


# ---------------------------------------------------------------------------
# §2.9 — the per-key fetch loop as a left-semi join
# ---------------------------------------------------------------------------
@register(
    "semi_join_orchestration",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    """,
    tags=("reference", "join"),
)
def semi_join_orchestration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's serial fan-out (one filtered fetch per distinct
    key, src/etl.py:186-195) is a left-semi join in relational terms —
    one distributed job instead of a driver loop; the key list
    broadcasts."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    keys = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return orders.join(
        F.broadcast(keys),
        on=orders.o_custkey == keys.c_custkey,
        how="left_semi",
    ).select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"))


@register(
    "e12_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("reference", "json", "variant"),
)
def e12_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured done the Spark-4 way: parse once into the
    binary VARIANT type, then typed `try_variant_get` extraction —
    versus from_json (needs a declared schema up front) or repeated
    get_json_object (re-parses the string per path). At 100 TB you
    parse each payload exactly once, extractions are O(fields
    touched) over the binary encoding, and unknown/missing paths
    yield NULL instead of failing the job. Oracle is the equivalent
    string-path extraction (DuckDB has no variant type — same
    values, different storage)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )
