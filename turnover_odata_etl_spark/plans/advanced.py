"""Second-wave relational coverage: time-range window frames, batch
sessionization, and the scalar families (math / array / null-handling)
not exercised by plans.relational.

Everything here is built-in-expression only (whole-stage codegen,
scan+project or a single keyed shuffle) — the 100 TB shape notes live
on each query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sessionize import session_summary
from ..operators.sinks import colocated_join, write_bucketed, write_partitioned
from ..operators.skew import salted_join
from ..tables import broadcast_if_storage_small, load_table
from .registry import register

_MS_30_DAYS = 30 * 86400 * 1000
_MS_30_MIN = 30 * 60 * 1000


@register(
    "e5_window_range_frame",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           epoch_ms(o_orderdate) AS order_ms,
           round(sum(o_totalprice) OVER w, 2) AS sum_30d,
           CAST(count(*) OVER w AS BIGINT) AS n_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate)
                 RANGE BETWEEN {_MS_30_DAYS} PRECEDING AND CURRENT ROW)
    """,
    tags=("relational", "window"),
)
def e5_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame: per-customer rolling 30-day order total.
    Unlike a ROWS frame this is value-based — peers (equal timestamps)
    share a frame, so the result is deterministic without a
    tiebreaker. One shuffle on the partition key; the frame scan is a
    per-partition sorted sliding pass (no O(n²) self-join, which is
    how naive SQL writes rolling sums)."""
    o = load_table(spark, sf_dir, "orders")
    order_ms = F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(order_ms)
        .rangeBetween(-_MS_30_DAYS, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        order_ms.alias("order_ms"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("sum_30d"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_30d"),
    )


@register(
    "e14_sessionize_batch",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ms,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                    (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
                  <= {_MS_30_MIN}
                  THEN 0 ELSE 1 END AS new_s
      FROM events
    ), sess AS (
      SELECT user_id, ms,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ms) AS start_ms,
           max(ms) AS end_ms,
           max(ms) - min(ms) AS span_ms
    FROM sess
    GROUP BY user_id, session_id
    """,
    tags=("relational", "window", "sessionize"),
)
def e14_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gaps-and-islands sessionization (30-min gap) — the
    backfill twin of st_session_window. lag + prefix-sum + groupBy all
    share the user_id partitioning, so the whole operator costs ONE
    hash shuffle regardless of scale. Tie order fixed by (ts,
    event_id) on both engines (operators/sessionize.py)."""
    ev = load_table(spark, sf_dir, "events")
    return session_summary(
        ev, "user_id", "ts", _MS_30_MIN, order_cols=("event_id",)
    )


def _scratch(sf_dir: str, kind: str) -> str:
    """Per-SF scratch location for layout demos (outside the repo)."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    return f"/tmp/spark_graft_layout/{tag}/{kind}"


@register(
    "s_partitioned_scan_prune",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_clicks,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE event_type = 'click'
    GROUP BY user_id
    """,
    tags=("relational", "sink", "scan"),
)
def s_partitioned_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink + pruned re-scan: events written
    partitionBy(event_type), then the 'click' aggregate reads back
    through directory pruning — the scan opens ~1/5 of the files
    (PartitionFilters in the plan; asserted in tests/test_sinks.py).
    At 100 TB this is the difference between scanning a day and
    scanning the lake. The write itself shuffle-free (partitionBy
    splits within each task)."""
    path = _scratch(sf_dir, "events_by_type")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ms", F.unix_millis(F.col("ts").cast("timestamp"))
    ).drop("ts")
    write_partitioned(ev, path, ["event_type"])
    # Explicit schema: schema-stable on a zero-row write (no partition
    # dirs to infer from) — and the production-correct pattern anyway.
    back = spark.read.schema(ev.schema).parquet(path)
    return (
        back.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "e3_join_bucketed_colocated",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("relational", "join", "sink", "bucketed"),
)
def e3_join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: orders and customer are first written
    bucketed (8 buckets, bucket-sorted) on their join keys, then the
    join runs with NO Exchange on either side (asserted in
    tests/test_sinks.py) — bucket i zips with bucket i inside one
    task. The shuffle is paid once at layout time; every recurring
    join on the key afterwards is shuffle-free. This is the layout
    strategy for a fact table joined daily at 100 TB."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    t_orders, t_cust = f"orders_bkt_{tag}", f"customer_bkt_{tag}"
    write_bucketed(load_table(spark, sf_dir, "orders"), t_orders, "o_custkey", 8)
    write_bucketed(
        load_table(spark, sf_dir, "customer"), t_cust, "c_custkey", 8
    )
    joined = colocated_join(spark, t_orders, t_cust, "o_custkey", "c_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@register(
    "e3_join_salted_skew",
    oracle="""
    SELECT s.s_nationkey,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice), 2) AS total
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
    tags=("relational", "join", "skew"),
)
def e3_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew-proof join (operators/skew.salted_join): the fact
    side's key is salted 8 ways and the dimension replicated 8×, so a
    hot supplier's rows spread over 8 tasks instead of one straggler.
    Result is provably identical to the plain join (the oracle IS the
    plain join) — salting changes placement, never matches. The
    default path is AQE skew splitting (on in session.py); this is
    the explicit rewrite for shuffles AQE can't split."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    j = salted_join(li, s, "l_suppkey", "s_suppkey", salt=8)
    return j.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("total"),
    )


@register(
    "a_dedup_keep_latest",
    oracle="""
    SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type,
           round(value, 2) AS value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1
    """,
    tags=("relational", "dedup", "window"),
)
def a_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the LATEST row per key (argmax by event
    time) — the upsert-compaction shape every CDC/ETL pipeline needs,
    vs. the reference's whole-row drop_duplicates (src/etl.py:209).
    One shuffle on the key; row_number, not a self-join against
    max(ts). Tie-broken by event_id for determinism."""
    ev = load_table(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(ms.desc(), F.col("event_id").desc())
    return (
        ev.withColumn("ms", ms)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "ms",
            "event_type",
            F.round("value", 2).alias("value"),
        )
    )


@register(
    "c_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             round(o_totalprice + 1000, 2) AS price
      FROM orders WHERE o_orderkey % 10 = 0
    ), unioned AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             round(o_totalprice, 2) AS price, 0 AS src
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, price, 1 FROM updates
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, price
    FROM unioned
    QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY src DESC) = 1
    """,
    tags=("relational", "etl", "merge"),
)
def c_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert as union + keep-highest-priority — the engine-
    agnostic CDC merge (what Delta/Iceberg MERGE INTO compiles to
    without a transaction log): base ∪ updates, one shuffle on the
    key, winner by source priority. The update batch is synthesized
    deterministically (every 10th order, price+1000 — an exact-in-binary
    delta, so round() can't hit a half-way case that the two engines
    tie-break differently). At 100 TB the
    update side is typically <<1% of base — AQE picks a broadcast for
    it automatically when small enough."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("price"),
    ).withColumn("src", F.lit(0))
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") + 1000, 2).alias("price"),
        )
        .withColumn("src", F.lit(1))
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("src").desc())
    return (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "price")
    )


@register(
    "e15_udtf_split_words",
    oracle=r"""
    WITH ws AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents
      WHERE trim(text) <> ''
    )
    SELECT doc_id, u.term AS term, u.pos AS pos FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w) + 1),
                                   i -> {'term': w[i], 'pos': i})) AS u
      FROM ws
    )
    """,
    tags=("relational", "udtf", "text"),
)
def e15_udtf_split_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The E15 UDTF surface: an Arrow-optimized Python UDTF (one row
    in → N rows out) applied via LATERAL join. The plan node is
    ArrowEvalPythonUDTF — Arrow-batched, NOT row-at-a-time (the
    BatchEvalPython ban in tests/test_plan_shape.py still holds).
    The class is defined inside this function so cloudpickle ships it
    by value — workers don't need this package importable. Built-in
    explode covers this particular job (llm.t_tfidf_topterms); the
    point here is the API surface for logic that genuinely needs
    imperative row expansion."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="term string, pos bigint", useArrow=True)
    class SplitWords:
        def eval(self, text):
            if text is None:
                return
            for i, w in enumerate(text.split(), start=1):
                yield w, i

    spark.udtf.register("split_words", SplitWords)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, t.term, t.pos
        FROM documents d, LATERAL split_words(d.text) t
        """
    )


@register(
    "x_math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_discount - 0.05), 6) AS absd,
           CAST(ceil(l_quantity) AS BIGINT) AS ceil_q,
           CAST(floor(l_quantity) AS BIGINT) AS floor_q,
           round(sqrt(l_extendedprice), 6) AS sqrt_p,
           round(ln(l_extendedprice + 1), 6) AS ln_p,
           round(log10(l_extendedprice + 1), 6) AS log10_p,
           round(exp(l_discount), 6) AS exp_d,
           round(power(l_quantity, 2), 6) AS q_sq,
           mod(l_orderkey, 7) AS m7,
           CAST(sign(l_discount - 0.05) AS BIGINT) AS sgn,
           round(greatest(l_tax, l_discount), 6) AS hi,
           round(least(l_tax, l_discount), 6) AS lo
    FROM lineitem
    """,
    tags=("relational", "scalar"),
)
def x_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar sweep (abs/ceil/floor/sqrt/ln/log10/exp/pow/mod/
    sign/greatest/least) — scan+project, codegen'd, shuffle-free."""
    li = load_table(spark, sf_dir, "lineitem")
    d = F.col("l_discount")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(d - 0.05), 6).alias("absd"),
        F.ceil("l_quantity").cast("long").alias("ceil_q"),
        F.floor("l_quantity").cast("long").alias("floor_q"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_p"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("ln_p"),
        F.round(F.log10(F.col("l_extendedprice") + 1), 6).alias("log10_p"),
        F.round(F.exp(d), 6).alias("exp_d"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("q_sq"),
        (F.col("l_orderkey") % 7).alias("m7"),
        F.signum(d - 0.05).cast("long").alias("sgn"),
        F.round(F.greatest("l_tax", "l_discount"), 6).alias("hi"),
        F.round(F.least("l_tax", "l_discount"), 6).alias("lo"),
    )


@register(
    "x_array_functions",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_v,
           round(CAST(embedding[len(embedding)] AS DOUBLE), 6) AS last_v,
           round(list_sum(list_transform(list_slice(embedding, 1, 3),
                                         x -> CAST(x AS DOUBLE))), 6)
             AS head3_sum,
           CAST(len(list_filter(embedding, x -> x < 0)) AS BIGINT) AS n_neg,
           round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS max_v,
           round(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 6) AS min_v,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
    FROM embeddings
    """,
    tags=("relational", "scalar", "array"),
)
def x_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar sweep over ArrayType(Float): size/element_at/slice/
    filter/min/max plus an L2 norm as a left-fold aggregate. All
    float32 values are cast to double BEFORE any arithmetic/rounding
    on both engines — float32 rounding differs between engines, the
    f32→f64 widening is exact. Interpreted-HOF cost is fine here (one
    pass, dozens of elements/row); hot-loop vector math goes through
    the mapInPandas kernels instead (SCALE.md)."""
    e = load_table(spark, sf_dir, "embeddings")
    arr = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at(arr, 1), 6).alias("first_v"),
        F.round(F.element_at(arr, -1), 6).alias("last_v"),
        F.round(
            F.aggregate(F.slice(arr, 1, 3), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("head3_sum"),
        F.size(F.filter(arr, lambda v: v < 0)).cast("long").alias("n_neg"),
        F.round(F.array_max(arr), 6).alias("max_v"),
        F.round(F.array_min(arr), 6).alias("min_v"),
        F.round(
            F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x)), 6
        ).alias("l2_norm"),
    )


@register(
    "s_jsonl_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total
    FROM events
    GROUP BY event_type
    """,
    tags=("relational", "sink", "source", "json"),
)
def s_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second source/sink format: events written as JSON-lines, read
    back with an explicit schema (schema inference over JSONL is a
    full extra pass — never at 100 TB), aggregated, and checked
    against the parquet originals. JSONL costs ~5-10× parquet in scan
    time and bytes (row-major text, no column pruning or predicate
    pushdown) — it's the interchange format, parquet is the compute
    format."""
    path = _scratch(sf_dir, "events_jsonl")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
    )
    ev.write.mode("overwrite").json(path)
    schema = "event_id long, user_id long, event_type string, value double, ms long"
    back = spark.read.schema(schema).json(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
    )


@register(
    "s_gzip_jsonl_roundtrip",
    oracle="""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(length(text)) AS BIGINT) AS total_text_len
    FROM documents
    GROUP BY lang, source
    """,
    tags=("relational", "sink", "source", "json", "llm"),
)
def s_gzip_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-corpus ingest: documents written as GZIP JSON-lines
    (the de-facto interchange for web-crawl corpora — WET/CC dumps ship
    as .jsonl.gz/.warc.gz), read back through Spark's transparent
    codec path, and aggregated against the parquet originals so a
    corrupted compress/decompress roundtrip breaks the value hash.

    Scale notes, because gzip is the one mainstream codec that is NOT
    splittable: one .gz file = one input split = one task, no matter
    its size, so a 100 TB corpus must arrive as many shard files
    (the write side here produces one .gz per task for exactly that
    reason) and read parallelism equals the shard count. Re-compress
    to parquet/zstd on first touch — this query IS that first-touch
    pattern: text lands compressed row-major, compute happens on the
    columnar copy. Schema is passed explicitly on read; inference
    over compressed JSONL is a full extra decompress pass."""
    path = _scratch(sf_dir, "documents_jsonl_gz")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").option("compression", "gzip").json(path)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    back = spark.read.schema(schema).json(path)
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("total_text_len"),
    )


@register(
    "s_warc_ingest",
    oracle="""
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(sum(length(text)) AS BIGINT) AS total_text_len,
           CAST(max(1767225600 + doc_id) AS BIGINT) AS max_date_s
    FROM documents
    GROUP BY source, lang
    """,
    tags=("relational", "sink", "source", "warc", "llm", "bench:additions"),
)
def s_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl archive roundtrip: documents serialized as WET-style
    ``.warc.gz`` shards (ISO 28500 records, one gzip member each —
    Common Crawl's layout, built from the public grammar in
    ``sources/warc.py``), read back through the binaryFile +
    mapInPandas parser, and aggregated against the parquet originals
    so any framing/encoding corruption breaks the value hash — the
    id checksum, per-language char totals, AND the WARC-Date decode
    (docs carry date 2026-01-01 + doc_id seconds) all roundtrip.

    Scale: gzip is not splittable, so shard count chosen at write
    time == read parallelism forever after; a 100 TB crawl drop is
    many ~1 GB shards and the first touch re-lands them columnar —
    this query IS that first-touch pattern. Write side is a
    distributed mapInPandas sink (one shard per task, driver sees
    only the N-row manifest); read side parses whole shards per task
    by Content-Length framing, never splitting a member."""
    from ..sources.warc import read_warc, write_warc_shards

    path = _scratch(sf_dir, "documents_warc")
    docs = load_table(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("http://"),
            F.col("source"),
            F.lit(".example.com/doc/"),
            F.col("doc_id"),
        ).alias("uri"),
        (F.lit(1767225600) + F.col("doc_id")).alias("date_s"),
        "lang",
        "text",
    )
    write_warc_shards(docs, path, n_shards=8)
    back = read_warc(spark, path)
    return (
        back.select(
            F.regexp_extract("uri", r"http://([^.]+)\.", 1).alias("source"),
            F.regexp_extract("uri", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
            "lang",
            "date_s",
            F.length("text").alias("text_len"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
            F.sum("text_len").alias("total_text_len"),
            F.max("date_s").alias("max_date_s"),
        )
    )


@register(
    "e6_q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           epoch_ms(o.o_orderdate) AS orderdate_ms,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    tags=("relational", "join", "agg", "bench:showcase"),
)
def e6_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on all three tables (pushed
    to each scan), customer broadcast after its 1/5 segment cut, one
    fact shuffle, top-10 via TakeOrderedAndProject (heap, no global
    sort). Limit ties broken by orderkey so the top-10 row SET is
    deterministic — the registry rule for every limit query."""
    cutoff = F.lit("1995-03-15").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_ms"
            ),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "t_chunk_documents",
    oracle="""
    SELECT doc_id,
           CAST((s - 1) // 80 AS BIGINT) AS chunk_id,
           CAST(s AS BIGINT) AS start_pos,
           substr(text, s, 100) AS chunk
    FROM (
      SELECT doc_id, text, unnest(range(1, length(text) + 1, 80)) AS s
      FROM documents
    )
    """,
    tags=("llm", "text", "chunk"),
)
def t_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training pipelines: fixed 100-char
    windows with 20-char overlap (stride 80), as sequence + explode +
    substring — one narrow pass, no shuffle, 1→N row expansion
    without Python. Both engines substring 1-based; Spark `sequence`
    is stop-inclusive and DuckDB `range` stop-exclusive, so the
    oracle uses len+1."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1), F.length("text"), F.lit(80))
            ).alias("s"),
        )
        .select(
            "doc_id",
            ((F.col("s") - 1) / 80).cast("long").alias("chunk_id"),
            F.col("s").cast("long").alias("start_pos"),
            F.substring(F.col("text"), F.col("s"), F.lit(100)).alias("chunk"),
        )
    )


@register(
    "m_embed_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), scaled AS (
      SELECT vec_id, e,
             127.0 / nullif(list_aggregate(list_transform(e, x -> abs(x)),
                                           'max'), 0) AS scale
      FROM v
    )
    SELECT vec_id,
           CAST(u.i AS BIGINT) AS i,
           CAST(round(u.q) AS BIGINT) AS q
    FROM (
      SELECT vec_id,
             unnest(list_transform(range(1, len(e) + 1),
                                   i -> {'i': i, 'q': e[i] * scale})) AS u
      FROM scaled
    )
    """,
    tags=("llm", "multimodal", "quantize"),
)
def m_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings (per-vector absmax
    scaling) — the storage-side op that shrinks a 100 TB float32
    embedding store 4×. Map-only: per-row absmax, scale, posexplode
    to (vec_id, dim, int8). All arithmetic in double on both engines
    (f32→f64 exact), round at the very end."""
    e = load_table(spark, sf_dir, "embeddings")
    arr = F.col("embedding").cast("array<double>")
    absmax = F.array_max(F.transform(arr, lambda x: F.abs(x)))
    scale = F.lit(127.0) / F.nullif(absmax, F.lit(0.0))
    return (
        e.select("vec_id", arr.alias("e"), scale.alias("scale"))
        .select("vec_id", F.posexplode("e").alias("i0", "v"), "scale")
        .select(
            "vec_id",
            (F.col("i0") + 1).cast("long").alias("i"),
            F.round(F.col("v") * F.col("scale")).cast("long").alias("q"),
        )
    )


@register(
    "q_sql_exists_subquery",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o_orderpriority
    """,
    tags=("relational", "sql"),
)
def q_sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS — Catalyst decorrelates to a
    LEFT SEMI join on (orderkey + date predicate), one pass over each
    table instead of a per-order probe. Identical SQL text runs on
    both engines."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
        )
        GROUP BY o_orderpriority
        """
    )


@register(
    "x_regex_hash_functions",
    oracle=r"""
    SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
           CAST(regexp_matches(c_name, '0{2}') AS BIGINT) AS has_00,
           string_split(c_name, '#')[1] AS before_hash,
           md5(c_name) AS h_md5,
           sha256(c_name) AS h_sha256
    FROM customer
    """,
    tags=("relational", "scalar", "regex"),
)
def x_regex_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex + cryptographic-hash scalar sweep (regexp_extract/
    replace/match, split, md5, sha256). Patterns stay in the
    RE2 ∩ Java-regex common subset so both engines agree. Hashes are
    the backbone of fingerprint dedup — exact hex parity matters.
    Spark regexp_replace replaces all matches; DuckDB needs the 'g'
    flag for the same semantics."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("digits"),
        F.regexp_replace("c_name", r"[0-9]", "#").alias("masked"),
        F.col("c_name").rlike("0{2}").cast("long").alias("has_00"),
        F.split("c_name", "#").getItem(0).alias("before_hash"),
        F.md5("c_name").alias("h_md5"),
        F.sha2("c_name", 256).alias("h_sha256"),
    )


@register(
    "x_struct_functions",
    oracle="""
    SELECT o_orderkey,
           {'k': o_custkey, 's': o_orderstatus}.k AS sk,
           {'k': o_custkey, 's': o_orderstatus}.s AS ss,
           CAST({'a': 1, 'b': o_custkey} = {'a': 1, 'b': o_custkey} AS BIGINT)
             AS eq_self
    FROM orders
    """,
    tags=("relational", "scalar", "struct"),
)
def x_struct_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct build + field access + struct equality — nested types
    as first-class columns (the engine keeps __metadata-style nested
    data native; stringification happens only at the CSV sink,
    SURVEY §1.3)."""
    o = load_table(spark, sf_dir, "orders")
    s = F.struct(
        F.col("o_custkey").alias("k"), F.col("o_orderstatus").alias("s")
    )
    t = F.struct(F.lit(1).alias("a"), F.col("o_custkey").alias("b"))
    return o.select(
        "o_orderkey",
        s.getField("k").alias("sk"),
        s.getField("s").alias("ss"),
        (t == t).cast("long").alias("eq_self"),
    )


@register(
    "e3_join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
    tags=("relational", "join"),
)
def e3_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — legal only when at least one side is tiny
    (it's a BroadcastNestedLoopJoin; |L|×|R| output). Guarded in real
    pipelines by spark.sql.crossJoin semantics: Spark requires the
    explicit crossJoin() call, which is the API telling you you're
    doing something O(n²)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@register(
    "x_null_conditional",
    oracle="""
    SELECT o_orderkey,
           coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
           CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 150000 THEN 'mid'
                ELSE 'high' END AS band,
           CAST(nullif(o_orderpriority, '1-URGENT') IS NULL AS BIGINT)
             AS is_urgent,
           round(coalesce(nullif(o_totalprice, 0), -1), 2) AS price_or_neg1
    FROM orders
    """,
    tags=("relational", "scalar"),
)
def x_null_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling & conditional scalar sweep: nullif/coalesce/CASE.
    The fixtures carry no NULLs, so nullif synthesizes them — the
    point is that three-valued logic flows identically through both
    engines. Scan+project, shuffle-free."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("open")).alias(
            "status_or_open"
        ),
        F.when(price < 50000, "low")
        .when(price < 150000, "mid")
        .otherwise("high")
        .alias("band"),
        F.nullif("o_orderpriority", F.lit("1-URGENT"))
        .isNull()
        .cast("long")
        .alias("is_urgent"),
        F.round(F.coalesce(F.nullif(price, F.lit(0)), F.lit(-1)), 2).alias(
            "price_or_neg1"
        ),
    )


@register(
    "s_csv_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("relational", "sink", "source", "csv"),
)
def s_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's only sink is a CSV file (S7, src/etl.py:220-222
    `df.to_csv`). Spark form: header'd multi-part CSV write + read
    back with an EXPLICIT schema — inference is a second full scan,
    and CSV types are lossy (timestamps go through ISO strings), so
    the timestamp travels as epoch-ms. CSV is fine as an egress
    format; at 100 TB the compute format stays parquet (column
    pruning + predicate pushdown don't exist on CSV)."""
    path = _scratch(sf_dir, "orders_csv")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("ms"),
        "o_orderpriority",
    )
    o.write.mode("overwrite").option("header", True).csv(path)
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, ms long, o_orderpriority string"
    )
    back = spark.read.schema(schema).option("header", True).csv(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "e6_q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    tags=("relational", "join", "agg", "bench:showcase"),
)
def e6_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: a 6-table star-ish join where the dimension
    chain region→nation→supplier collapses before it ever touches the
    fact table (region/nation carry explicit broadcast hints — fixed
    cardinality at every SF; the resulting supplier slice GROWS with
    SF, so its hint is SIZE-GUARDED: broadcast_if_storage_small hints
    iff the base scans are under the broadcast threshold — static
    join-output estimates explode, so without the guard the planner
    picks SMJ and the fact side pays a shuffle write AQE can't fully
    claw back; at 100 TB the guard declines and AQE decides). The only shuffles are the two fact-side equi-joins
    (lineitem⋈orders on orderkey, ⋈customer on custkey); 'local
    supplier' (c_nationkey = s_nationkey) rides the supplier join as
    a residual condition instead of a second shuffle. At 100 TB the
    date filter prunes orders at the scan and AQE sizes the
    post-filter sides."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_base = load_table(spark, sf_dir, "nation")
    n = n_base.join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s_base = load_table(spark, sf_dir, "supplier")
    s = s_base.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(
            broadcast_if_storage_small(s, s_base, n_base, r),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(
            c,
            (o.o_custkey == c.c_custkey)
            & (c.c_nationkey == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "e6_q18_large_volume_customer",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           epoch_ms(o.o_orderdate) AS orderdate_ms,
           round(o.o_totalprice, 2) AS totalprice,
           round(big.sum_qty, 2) AS sum_qty
    FROM (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(l_quantity) > 300
    ) big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    tags=("relational", "join", "agg", "bench:showcase"),
)
def e6_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate the fact FIRST (map-side partial sum
    on l_orderkey, then HAVING cuts ~99.7% of groups), and only the
    surviving handful of orderkeys join to orders/customer. Writing it
    join-first would shuffle the whole lineitem×orders product; agg-
    first makes the big table touch one shuffle and AQE turns both
    subsequent joins into broadcasts at runtime (the post-HAVING side
    is tiny at any SF)."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_ms"
            ),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("qty", 2).alias("sum_qty"),
        )
    )


_MS_HOUR = 3600 * 1000
_MS_MAX_SENTINEL = 253402300799999  # 9999-12-31T23:59:59.999


@register(
    "e4_scd2_intervals",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id FROM events
    ), flagged AS (
      SELECT *, lag(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ms, event_id) AS prev
      FROM e
    ), changes AS (
      SELECT user_id, event_type, ms, event_id
      FROM flagged WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type, ms AS valid_from_ms,
           coalesce(lead(ms) OVER (PARTITION BY user_id
                                   ORDER BY ms, event_id) - 1,
                    253402300799999) AS valid_to_ms,
           CAST(lead(ms) OVER (PARTITION BY user_id
                               ORDER BY ms, event_id) IS NULL
                AS BIGINT) AS is_current
    FROM changes
    """,
    tags=("relational", "window", "scd2"),
)
def e4_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build: compact a changelog (drop rows equal to
    the previous state) and assign [valid_from, valid_to] validity
    windows via lead() — exactly the `Date From`/`Date To` interval
    columns the reference's SAP backend serves pre-built
    (src/etl.py:47-48 C0DATEFROM/C0DATETO); here we build them from
    raw events. Both window passes and the filter share the user_id
    partitioning: ONE shuffle total at any scale. Open intervals get
    a far-future sentinel so downstream BETWEEN range-joins
    (e4_range_join) need no NULL branch."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
        "event_id",
    )
    w_full = Window.partitionBy("user_id").orderBy("ms", "event_id")
    changes = ev.withColumn(
        "prev", F.lag("event_type").over(w_full)
    ).filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    w_chg = Window.partitionBy("user_id").orderBy("ms", "event_id")
    nxt = F.lead("ms").over(w_chg)
    return changes.select(
        "user_id",
        "event_type",
        F.col("ms").alias("valid_from_ms"),
        F.coalesce(nxt - 1, F.lit(_MS_MAX_SENTINEL)).alias("valid_to_ms"),
        nxt.isNull().cast("long").alias("is_current"),
    )


@register(
    "e14_gapfill_resample",
    oracle=f"""
    WITH b AS (
      SELECT event_type, (epoch_ms(ts) // {_MS_HOUR}) * {_MS_HOUR} AS bucket,
             value
      FROM events
    ), agg AS (
      SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
             sum(value) AS total
      FROM b GROUP BY 1, 2
    ), grid AS (
      SELECT et.event_type,
             unnest(generate_series((SELECT min(bucket) FROM b),
                                    (SELECT max(bucket) FROM b),
                                    {_MS_HOUR})) AS bucket
      FROM (SELECT DISTINCT event_type FROM b) et
    )
    SELECT g.event_type, g.bucket,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n,
           round(coalesce(a.total, 0), 2) AS total
    FROM grid g LEFT JOIN agg a USING (event_type, bucket)
    """,
    tags=("relational", "agg", "timeseries"),
)
def e14_gapfill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style resample: hourly rollup per event_type with
    explicit zero rows for empty buckets (gap-fill), the shape
    time-series stores call time_bucket_gapfill. The dense grid is
    keys × sequence(min,max) — generated, never scanned; the bounds
    row broadcasts to the grid build, and the left join back to the
    rollup is a broadcast at any scale where n_keys × n_buckets stays
    dimension-sized (it grows with time span, not with data volume —
    the 100 TB fact table only ever passes through the one rollup
    shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        (
            F.floor(F.unix_millis(F.col("ts").cast("timestamp")) / _MS_HOUR)
            * _MS_HOUR
        ).alias("bucket"),
        "value",
    )
    agg = b.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
    )
    bounds = b.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = (
        b.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.lit(_MS_HOUR).cast("long"))
            ).alias("bucket"),
        )
    )
    return grid.join(
        F.broadcast(agg), ["event_type", "bucket"], "left"
    ).select(
        "event_type",
        "bucket",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.round(F.coalesce("total", F.lit(0.0)), 2).alias("total"),
    )


@register(
    "x_bitwise_functions",
    oracle="""
    SELECT o_orderkey,
           (o_orderkey << 2) AS shl,
           (o_orderkey >> 1) AS shr,
           (o_orderkey & 255) AS band,
           (o_orderkey | 4096) AS bor,
           xor(o_orderkey, 1023) AS bxor,
           CAST(bit_count(o_orderkey) AS INTEGER) AS popcnt,
           (~o_orderkey) AS bnot
    FROM orders
    """,
    tags=("relational", "scalar", "bitwise"),
)
def x_bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar sweep — shifts, and/or/xor/not, popcount. These
    are the primitives the engine's own sketches are built from
    (SimHash bands, MinHash bucketing, bloom probes), so they must be
    codegen'd JVM expressions, not UDFs: a Python-UDF popcount in a
    100 TB fingerprint pass would dominate the job. Scan+project,
    shuffle-free."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 1).alias("shr"),
        k.bitwiseAND(F.lit(255)).alias("band"),
        k.bitwiseOR(F.lit(4096)).alias("bor"),
        k.bitwiseXOR(F.lit(1023)).alias("bxor"),
        F.bit_count(k).alias("popcnt"),
        F.bitwise_not(k).alias("bnot"),
    )


@register(
    "c_snapshot_diff",
    oracle="""
    WITH snap_old AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders WHERE o_orderkey % 10 <> 0
    ), snap_new AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 7 = 0 THEN 100 ELSE 0 END AS price_cents
      FROM orders WHERE o_orderkey % 10 <> 1
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN o.o_orderstatus <> n.o_orderstatus
                     OR o.price_cents <> n.price_cents THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM snap_old o FULL OUTER JOIN snap_new n USING (o_orderkey)
    WHERE NOT (o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
               AND o.o_orderstatus = n.o_orderstatus
               AND o.price_cents = n.price_cents)
    """,
    tags=("relational", "join", "diff", "reference"),
)
def c_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot change detection, done relationally. The reference's
    de-facto change detector is `git diff` on the daily committed CSV
    (S8, .github/workflows/etl.yml:43-66) — O(full snapshot) text
    diff on the driver. Spark form: full outer join of the two keyed
    snapshots, classify added / removed / changed per key, drop
    unchanged. One co-partitioned shuffle pair at any scale, and the
    comparison is typed (price in exact cents), not a text diff. The
    two synthetic snapshots carve adds/removes/changes out of orders
    deterministically so the result is oracle-checkable."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    snap_old = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        cents.alias("price_cents"),
    )
    snap_new = o.filter(F.col("o_orderkey") % 10 != 1).select(
        "o_orderkey",
        "o_orderstatus",
        (
            cents
            + F.when(F.col("o_orderkey") % 7 == 0, 100).otherwise(0)
        ).alias("price_cents"),
    )
    old = snap_old.alias("old")
    new = snap_new.alias("new")
    ok, nk = F.col("old.o_orderkey"), F.col("new.o_orderkey")
    same = (
        ok.isNotNull()
        & nk.isNotNull()
        & (F.col("old.o_orderstatus") == F.col("new.o_orderstatus"))
        & (F.col("old.price_cents") == F.col("new.price_cents"))
    )
    status = (
        F.when(nk.isNull(), "removed")
        .when(ok.isNull(), "added")
        .when(
            (F.col("old.o_orderstatus") != F.col("new.o_orderstatus"))
            | (F.col("old.price_cents") != F.col("new.price_cents")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        old.join(new, ok == nk, "full_outer")
        .filter(~same)
        .select(
            F.coalesce(ok, nk).alias("o_orderkey"),
            status.alias("status"),
        )
    )


@register(
    "e6_q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
    ) GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("relational", "join", "agg", "bench:showcase"),
)
def e6_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year. The join-order lesson is DOUBLE dimension reduction —
    nation filters to 2 rows, broadcast into supplier AND customer
    BEFORE either touches a fact table, so the nation predicate prunes
    both fact-side joins' build sides via SIZE-GUARDED hints
    (broadcast_if_storage_small: join-derived slices defeat static
    size estimation, so the guard hints from base-scan storage size
    and declines at 100 TB). Fact-side work is the same two
    shuffles as Q5 (lineitem⋈orders, ⋈customer); the disjunctive
    nation-pair predicate is a residual filter on already-broadcast
    columns, costing nothing extra. At 100 TB the selective dimension
    cut is the difference between shuffling 2/25ths of suppliers and
    all of them."""
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    sup_base = load_table(spark, sf_dir, "supplier")
    cust_base = load_table(spark, sf_dir, "customer")
    s = (
        sup_base
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        cust_base
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(
            broadcast_if_storage_small(s, sup_base, n),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(
            broadcast_if_storage_small(c, cust_base, n),
            o.o_custkey == F.col("c_custkey"),
        )
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "e6_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(c.c_acctbal, 2) AS acctbal,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("relational", "join", "agg", "bench:showcase"),
)
def e6_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue on returned
    items in one half-year. Both selective predicates (order-date
    window, returnflag='R') are plain column comparisons that Catalyst
    pushes into the respective parquet scans — the join never sees the
    ~92% of rows they cut. nation broadcasts into customer; the two
    fact joins shuffle; the final top-20 is a TakeOrderedAndProject
    (partial per-partition top-20, one tiny driver merge), not a full
    sort. Ordering carries c_custkey as tiebreak so the LIMIT is
    deterministic cross-engine."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("c_acctbal", 2).alias("acctbal"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "s_orc_roundtrip",
    oracle="""
    SELECT l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS total
    FROM lineitem
    GROUP BY l_linestatus
    """,
    tags=("relational", "sink", "source", "orc"),
)
def s_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source roundtrip — the other columnar format Spark
    ships natively. Unlike CSV, ORC keeps types, column pruning, and
    predicate pushdown, so it's a legitimate compute format; the
    roundtrip proves the engine's sink surface isn't parquet-only.
    The aggregate after read-back only touches 2 of the 5 written
    columns — the ORC scan prunes the rest (same ReadSchema contract
    as parquet)."""
    path = _scratch(sf_dir, "lineitem_orc")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_linestatus",
        "l_extendedprice", "l_quantity",
    )
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("total"),
    )


def _profile_oracle_col(col: str, numeric: bool, fractional: bool) -> str:
    mn, mx = f"min({col})", f"max({col})"
    if fractional:
        mn = f"round({mn}, 4)::DECIMAL(38,4)"
        mx = f"round({mx}, 4)::DECIMAL(38,4)"
    mean = f"round(avg({col}), 4)" if numeric else "NULL::DOUBLE"
    return f"""
    SELECT '{col}' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({col}) AS BIGINT) AS n_null,
           round((count(*) - count({col}))::DOUBLE / count(*), 4) AS null_frac,
           CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
           {mn}::VARCHAR AS min_str,
           {mx}::VARCHAR AS max_str,
           {mean} AS mean
    FROM orders
    """


_PROFILE_COLS = [
    ("o_orderkey", True, False),
    ("o_custkey", True, False),
    ("o_orderstatus", False, False),
    ("o_totalprice", True, True),
    ("o_orderdate", False, False),
    ("o_orderpriority", False, False),
]


@register(
    "p_profile_table",
    oracle=" UNION ALL ".join(
        _profile_oracle_col(c, n, f) for c, n, f in _PROFILE_COLS
    ),
    tags=("relational", "profiling"),
)
def p_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiling (operators/profile.profile_table):
    row count + per-column null count/rate, distinct count, min/max,
    numeric mean — all N×5 statistics in a single aggregation over a
    single scan (the oracle needs one subquery per column; the Spark
    plan is exactly one HashAggregate). The long-form output (row per
    column) is what a data-quality harness joins expectation rules
    against. At 100 TB set approx=True (HLL distinct, same shape)."""
    from ..operators.profile import profile_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(orders).withColumnRenamed("column", "col_name")


@register(
    "p_heavy_hitters",
    oracle="""
    WITH counts AS (
      SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_suppkey
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM lineitem)
    SELECT key, n,
           round(n::DOUBLE / total, 6) AS frac,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT key, n, total,
             row_number() OVER (ORDER BY n DESC, key) AS rnk
      FROM counts CROSS JOIN tot
    ) WHERE rnk <= 10
    """,
    tags=("relational", "profiling", "skew"),
)
def p_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics: top-10 heaviest join/group keys with their
    row fraction — the query you run BEFORE deciding whether a join
    needs salting (operators/skew.py) or AQE skew handling suffices.
    One partial-aggregated count shuffle + a TakeOrdered top-10; the
    grand total rides along via a 1-row broadcast cross join, so the
    fact table is scanned once."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = li.agg(F.count(F.lit(1)).alias("total"))
    w = Window.orderBy(F.col("n").desc(), "key")
    return (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 10)
        .select(
            "key",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("frac"),
            "rnk",
        )
    )


@register(
    "x_try_functions",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           TRY_CAST(event_type AS DOUBLE) AS et_num,
           CASE WHEN value = 0 THEN NULL ELSE round(1.0 / value, 4) END
             AS inv_value,
           TRY_CAST('2024-13-99' AS DATE) IS NULL AS bad_date_nulled
    FROM events
    """,
    tags=("relational", "scalar", "cleaning"),
)
def x_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant parsing sweep (`try_*` family) — malformed input
    yields NULL instead of failing the job, the contract batch
    data-cleaning needs (one bad row must not kill a 100 TB pass).
    Mirrors DuckDB TRY_CAST semantics; try_divide(x, 0) → NULL."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("int").alias("k_int"),
        F.col("event_type").try_cast("double").alias("et_num"),
        F.round(F.try_divide(F.lit(1.0), F.col("value")), 4).alias(
            "inv_value"
        ),
        F.lit("2024-13-99").try_cast("date").isNull().alias("bad_date_nulled"),
    )


@register(
    "q_sql_recursive_cte",
    oracle="""
    WITH RECURSIVE spine(d) AS (
      SELECT DATE '1995-01-01'
      UNION ALL
      SELECT d + INTERVAL 1 DAY FROM spine WHERE d < DATE '1995-03-31'
    )
    SELECT strftime(CAST(d AS DATE), '%Y-%m-%d') AS day,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders
    FROM spine LEFT JOIN orders ON CAST(o_orderdate AS DATE) = CAST(d AS DATE)
    GROUP BY 1
    """,
    tags=("relational", "sql", "recursive"),
)
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): a Q1-1995 calendar spine generated by
    recursion, left-joined to orders for a dense per-day count —
    gap-days emit 0 instead of vanishing. The recursion is
    driver-cheap (90 rows, depth 90); the fact side joins once. At
    scale prefer `sequence()` for pure date spines (e14_gapfill) —
    this registers the recursive-query capability itself, which
    sequence() can't replace for genuinely recursive shapes
    (hierarchies, closures)."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE spine(d) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT d + INTERVAL 1 DAY FROM spine WHERE d < DATE '1995-03-31'
        )
        SELECT date_format(d, 'yyyy-MM-dd') AS day,
               CAST(count(o_orderkey) AS BIGINT) AS n_orders
        FROM spine LEFT JOIN orders ON CAST(o_orderdate AS DATE) = d
        GROUP BY 1
        """
    )


@register(
    "q_sql_lateral_join",
    oracle="""
    SELECT o.o_orderkey, t.top_price, t.n_lines
    FROM orders o,
    LATERAL (
      SELECT round(max(l_extendedprice), 2) AS top_price,
             CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem WHERE l_orderkey = o.o_orderkey
    ) t
    WHERE o.o_orderpriority = '1-URGENT'
    """,
    tags=("relational", "sql", "join"),
)
def q_sql_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join (Spark 3.2+ SQL): per urgent
    order, the max line price and line count from a dependent
    subquery. Catalyst decorrelates this into an aggregate + equi-join
    (no per-row re-execution) — the plan to check is the same as
    q_sql_correlated_subquery's; LATERAL is the multi-column variant
    scalar subqueries can't express."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o.o_orderkey, t.top_price, t.n_lines
        FROM orders o,
        LATERAL (
          SELECT round(max(l_extendedprice), 2) AS top_price,
                 CAST(count(*) AS BIGINT) AS n_lines
          FROM lineitem WHERE l_orderkey = o.o_orderkey
        ) t
        WHERE o.o_orderpriority = '1-URGENT'
        """
    )


@register(
    "e5_window_ntile_nth",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(first_value(o_totalprice) OVER w, 2) AS first_price,
           round(nth_value(o_totalprice, 3) OVER w, 2) AS third_price
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("relational", "window"),
)
def e5_window_ntile_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining window-function family: ntile quartiles plus
    first/nth value over a running frame — one shuffle on the
    partition key, one sort, all four outputs from the same window
    definition (Spark evaluates them in a single Window exec). Total
    order (price, key) keeps ntile deterministic cross-engine."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.nth_value("o_totalprice", 3).over(w), 2).alias(
            "third_price"
        ),
    )


@register(
    "x_hof_functions",
    oracle="""
    WITH t AS (
      SELECT o_orderpriority AS prio,
             list(round(o_totalprice, 2) ORDER BY o_orderkey) AS prices
      FROM orders GROUP BY o_orderpriority
    )
    SELECT prio,
           round(list_sum(list_transform(prices, x -> x * 1.1)), 2)
             AS uplifted_sum,
           CAST(len(list_filter(prices, x -> x > 100000)) AS BIGINT)
             AS n_large,
           list_max(prices) > 400000 AS any_huge,
           len(list_filter(prices, x -> x <= 0)) = 0 AS all_positive
    FROM t
    """,
    tags=("relational", "scalar", "hof"),
)
def x_hof_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function sweep — transform/aggregate/filter/
    exists/forall over per-group price arrays. HOFs run inside codegen
    on the array WITHOUT exploding (no row-count blowup, no shuffle
    beyond the initial collect_list) — the difference between
    'process a 1000-element array column' and '1000× the rows'. The
    fold order is pinned by sorting the collected list, so float sums
    agree with the oracle."""
    orders = load_table(spark, sf_dir, "orders")
    t = orders.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.array_sort(
            F.collect_list(
                F.struct("o_orderkey", F.round("o_totalprice", 2).alias("p"))
            )
        ).alias("kp")
    ).select(
        "prio", F.expr("transform(kp, s -> s.p)").alias("prices")
    )
    return t.select(
        "prio",
        F.round(
            F.aggregate(
                F.expr("transform(prices, x -> x * 1.1D)"),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            2,
        ).alias("uplifted_sum"),
        F.size(F.filter("prices", lambda x: x > 100000)).cast("long").alias(
            "n_large"
        ),
        F.exists("prices", lambda x: x > 400000).alias("any_huge"),
        F.forall("prices", lambda x: x > 0).alias("all_positive"),
    )


@register(
    "p_expectations",
    oracle="""
    WITH agg AS (
      SELECT count(*) AS n,
             count(CASE WHEN NOT (o_totalprice > 0) OR o_totalprice IS NULL
                        THEN 1 END) AS v_price_positive,
             count(CASE WHEN NOT (o_orderstatus IN ('F','O','P'))
                          OR o_orderstatus IS NULL
                        THEN 1 END) AS v_status_domain,
             count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS v_key_not_null,
             count(CASE WHEN NOT (o_orderdate >= TIMESTAMP '1990-01-01')
                          OR o_orderdate IS NULL
                        THEN 1 END) AS v_date_floor
      FROM orders
    )
    SELECT 'price_positive' AS rule, CAST(v_price_positive AS BIGINT) AS n_violations,
           round(v_price_positive::DOUBLE / n, 6) AS violation_frac,
           v_price_positive = 0 AS passed FROM agg
    UNION ALL
    SELECT 'status_domain', CAST(v_status_domain AS BIGINT),
           round(v_status_domain::DOUBLE / n, 6), v_status_domain = 0 FROM agg
    UNION ALL
    SELECT 'key_not_null', CAST(v_key_not_null AS BIGINT),
           round(v_key_not_null::DOUBLE / n, 6), v_key_not_null = 0 FROM agg
    UNION ALL
    SELECT 'date_floor', CAST(v_date_floor AS BIGINT),
           round(v_date_floor::DOUBLE / n, 6), v_date_floor = 0 FROM agg
    """,
    tags=("relational", "profiling", "quality"),
)
def p_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations gate (operators/profile.
    check_expectations): N data-quality rules evaluated as counting
    aggregates in ONE scan, emitting a rule-sized violations report —
    the pre-flight check a pipeline runs before trusting 100 TB of
    input (and the audit artifact it stores after). NULL predicate
    results count as violations (a rule that can't evaluate is not a
    pass)."""
    from ..operators.profile import check_expectations

    orders = load_table(spark, sf_dir, "orders")
    return check_expectations(
        orders,
        [
            {"name": "price_positive", "predicate": "o_totalprice > 0"},
            {
                "name": "status_domain",
                "predicate": "o_orderstatus IN ('F','O','P')",
            },
            {"name": "key_not_null", "predicate": "o_orderkey IS NOT NULL"},
            {
                "name": "date_floor",
                "predicate": "o_orderdate >= TIMESTAMP '1990-01-01'",
            },
        ],
    )


# ---------------------------------------------------------------------------
# E6 cont. — TPC-H Q14 (promo revenue share) and a Q19-shaped
# disjunctive-predicate join
# ---------------------------------------------------------------------------
@register(
    "e6_q14_promo_revenue",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
                   / sum(l.l_extendedprice * (1 - l.l_discount)), 2)
             AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-03-01'
    """,
    tags=("relational", "join", "agg", "bench:showcase"),
)
def e6_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for a two-month ship
    window. The date predicate prunes ~97% of lineitem at the parquet
    scan before the join; part contributes only (p_partkey, p_type)
    after column pruning. The join strategy is deliberately left to
    the optimizer: at test SF part broadcasts (under the 10 MB
    threshold), at 100 TB part is ~1/30 of lineitem and AQE picks a
    shuffle join keyed on partkey — neither choice is hardcoded. The
    conditional-sum ratio is a single Aggregate (two sums over the
    same rows), not two passes."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-03-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
                        F.lit(0.0)
                    )
                )
                / F.sum(rev),
                2,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "e6_q19_disjunctive_join",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("relational", "join", "bench:showcase"),
)
def e6_q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (adapted to this schema's columns): an
    OR-of-ANDs predicate spanning both join sides. The scale question
    Q19 tests is whether the engine evaluates the disjunction AFTER
    shipping full tables through the join, or extracts the
    single-table implications first. Catalyst's constraint propagation
    factors out `p_brand IN (...) AND p_size <= 15` for the part scan
    and `l_quantity <= 30` for the lineitem scan and pushes both into
    the parquet readers (visible as PushedFilters in explain), so the
    join input is pre-shrunk on both sides — the residual disjunction
    runs post-join on the survivors only."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "s_xml_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("relational", "sink", "source", "xml"),
)
def s_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink/source roundtrip via Spark 4's built-in XML data
    source (`spark-xml` was merged upstream in 4.0) — the interchange
    format enterprise OData/SOAP estates still emit. Write is a
    map-only per-task serialize (rowTag framing, no shuffle); read-back
    declares an explicit schema, so there is no sampling-based
    inference job — the scan streams and parses in one pass. XML keeps
    no column statistics, so unlike ORC/parquet nothing prunes: the
    docstring-level contract is "landing format, convert to columnar
    before compute", and the query models exactly that hop: XML read →
    typed aggregate. Timestamp columns cross the XML boundary as
    epoch-millis longs to avoid format-string drift."""
    path = _scratch(sf_dir, "orders_xml")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
            "o_date_ms"
        ),
    )
    o.write.mode("overwrite").format("xml").option("rowTag", "order").save(
        path
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey BIGINT, o_orderstatus STRING, "
                "o_totalprice DOUBLE, o_date_ms BIGINT")
        .load(path)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "s_range_sorted_layout",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS total,
           round(avg(l_discount), 4) AS avg_disc
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1998-02-01'
    """,
    tags=("relational", "sink", "layout"),
)
def s_range_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered data layout: `repartitionByRange(l_shipdate)` (a
    sampling-based global range exchange) + `sortWithinPartitions`
    before the parquet write, so every output file covers a narrow,
    non-overlapping ship-date span and its row-group min/max stats
    become selective. The read-back's one-month filter then skips
    whole files/row-groups on statistics instead of scanning the
    table — the layout investment that makes time-windowed scans at
    100 TB proportional to the window, not the lake (the write-side
    sort is paid once, amortized over every later scan). Hive
    partitionBy on raw date would create one directory per distinct
    value; range clustering keeps file count = partition count."""
    path = _scratch(sf_dir, "lineitem_rangesorted")
    li = load_table(spark, sf_dir, "lineitem")
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-02-01").cast("timestamp"))
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("total"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
    )


@register(
    "e13_exact_percentiles",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           quantile_disc(l_extendedprice, 0.5) AS p50,
           quantile_disc(l_extendedprice, 0.9) AS p90,
           quantile_disc(l_extendedprice, 0.99) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("relational", "agg", "percentile"),
)
def e13_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed percentiles per group — the precise twin of
    e13_approx_aggs' approx_percentile. DISCRETE percentiles
    (SQL-standard `percentile_disc ... WITHIN GROUP`): the result is
    an actual member of the multiset, so cross-engine parity is exact
    by construction — interpolating estimators (percentile_cont /
    quantile_cont) differ in final-ulp float arithmetic and flip a
    2-dp rounding boundary (observed at sf0.001). Exactness costs
    state: the aggregate buffers per-group value multisets, so it is
    the right tool when per-group cardinality is bounded (metrics
    rollups, per-tenant SLAs); unbounded-cardinality groups at 100 TB
    belong on approx_percentile's fixed-size sketches
    (e13_approx_aggs) — that trade is the point of shipping both."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("p50"),
        F.expr(
            "percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("p90"),
        F.expr(
            "percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("p99"),
    )


@register(
    "e14_funnel_sequence",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
    ), v AS (
      SELECT user_id, min(ms) AS view_ms FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ms) AS click_ms
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ms > v.view_ms
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ms) AS purchase_ms
      FROM e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ms > c.click_ms
      GROUP BY e.user_id
    )
    SELECT v.user_id, v.view_ms, c.click_ms, p.purchase_ms,
           CAST(1 + (c.user_id IS NOT NULL)::INT
                  + (p.user_id IS NOT NULL)::INT AS BIGINT) AS stage
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
    tags=("relational", "funnel", "sequence"),
)
def e14_funnel_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): per user,
    the earliest timestamp reaching each successive stage, where each
    stage must STRICTLY follow the previous one in event time. The
    min-chaining formulation (min view; min click after that view; min
    purchase after that click) is order-insensitive — no sort, no
    collect_list state, no tie ambiguity — so it decomposes into three
    partial-aggregable min-aggs chained by joins that all share the
    user_id hash partitioning: at 100 TB the whole funnel costs one
    logical repartition by user plus two co-partitioned (or broadcast,
    the stage frames shrink monotonically) joins."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ms").alias("view_ms"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ms") > F.col("view_ms"))
        .groupBy("user_id")
        .agg(F.min("ms").alias("click_ms"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ms") > F.col("click_ms"))
        .groupBy("user_id")
        .agg(F.min("ms").alias("purchase_ms"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "view_ms",
            "click_ms",
            "purchase_ms",
            (
                F.lit(1)
                + F.col("click_ms").isNotNull().cast("int")
                + F.col("purchase_ms").isNotNull().cast("int")
            )
            .cast("long")
            .alias("stage"),
        )
    )


@register(
    "e14_peak_concurrency",
    oracle="""
    WITH iv AS (
      SELECT event_type, epoch_ms(ts) AS s, epoch_ms(ts) + 300000 AS e
      FROM events
    ), deltas AS (
      SELECT event_type, s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT event_type, e AS t, -1 AS d FROM iv
    ), run AS (
      SELECT event_type,
             sum(d) OVER (PARTITION BY event_type ORDER BY t, d) AS active
      FROM deltas
    )
    SELECT event_type,
           CAST((SELECT count(*) FROM iv i
                 WHERE i.event_type = run.event_type) AS BIGINT)
             AS n_intervals,
           CAST(max(active) AS BIGINT) AS peak
    FROM run GROUP BY event_type
    """,
    tags=("relational", "window", "interval"),
)
def e14_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency (max simultaneously-active 5-minute
    event windows per type) — the sweep-line classic: ±1 deltas at
    interval ends, running sum ordered by (time, delta), max. Ordering
    d=-1 before +1 at equal timestamps makes intervals half-open
    [s, e); the default RANGE window frame gives every tie-peer the
    same prefix sum, so the max is deterministic on both engines.

    DAY-SHARDED (round 4, VERDICT r03 item 5): event_type alone is a
    low-cardinality key, so a per-type global prefix sum is a straggler
    partition at 100 TB. Instead each interval is split at UTC-day
    boundaries into per-day fragments (a bounded 5-minute interval
    splits at most once), the sweep runs per (event_type, day) — a
    high-cardinality, uniformly-sized shard key — and per-day peaks
    merge by max. Correctness: every interval active at instant t
    contributes exactly one fragment covering t inside t's day, so the
    per-day active count equals the global active count at every
    instant, and max-over-days equals the global peak. The fragment
    whose end falls exactly on midnight stays in the earlier day
    (half-open [s, e)); the ``(e - 1) div DAY`` upper bound keeps that
    empty next-day fragment from ever being generated."""
    DAY_MS = 86_400_000
    iv = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("s"),
        (F.unix_millis(F.col("ts").cast("timestamp")) + 300000).alias("e"),
    )
    frags = iv.select(
        "event_type",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.expr(f"s div {DAY_MS}"), F.expr(f"(e - 1) div {DAY_MS}")
            )
        ).alias("day"),
    ).select(
        "event_type",
        "day",
        F.greatest(F.col("s"), F.col("day") * DAY_MS).alias("fs"),
        F.least(F.col("e"), (F.col("day") + 1) * DAY_MS).alias("fe"),
    )
    deltas = frags.select(
        "event_type", "day", F.col("fs").alias("t"), F.lit(1).alias("d")
    ).unionByName(
        frags.select(
            "event_type", "day", F.col("fe").alias("t"), F.lit(-1).alias("d")
        )
    )
    w = Window.partitionBy("event_type", "day").orderBy("t", "d")
    run = deltas.withColumn("active", F.sum("d").over(w))
    peaks = run.groupBy("event_type").agg(
        F.max("active").cast("long").alias("peak")
    )
    counts = iv.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals")
    )
    return counts.join(peaks, "event_type").select(
        "event_type", "n_intervals", "peak"
    )


@register(
    "e6_copurchase_pairs",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM ob a JOIN ob b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
    """,
    tags=("relational", "join", "cooccurrence"),
)
def e6_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: brand pairs co-occurring in an order
    (the co-occurrence-matrix shape behind recommenders and n-gram
    statistics). Brand lookup is a broadcast dim join; the pair
    generation is a SELF-join co-partitioned on l_orderkey, so its
    cost is Σ basket_size² — bounded by the max basket (7 lineitems in
    TPC-H), NOT |table|², which is what makes the shape safe at
    100 TB. The distinct before pairing collapses duplicate
    (order, brand) rows so baskets can't self-inflate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.select(
        F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand_a")
    )
    b = ob.select(
        F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand_b")
    )
    return (
        a.join(b, "ok")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "e14_retention_cohorts",
    oracle="""
    WITH signup AS (
      SELECT user_id,
             min(epoch_ms(ts)) // 604800000 AS cohort_week
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT s.cohort_week,
             e.user_id,
             (epoch_ms(e.ts) // 604800000) - s.cohort_week AS week_offset
      FROM events e JOIN signup s ON e.user_id = s.user_id
      WHERE (epoch_ms(e.ts) // 604800000) >= s.cohort_week
    ), sizes AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
      FROM signup GROUP BY cohort_week
    )
    SELECT a.cohort_week, a.week_offset,
           CAST(count(*) AS BIGINT) AS n_active,
           s.n_cohort
    FROM activity a JOIN sizes s ON a.cohort_week = s.cohort_week
    GROUP BY a.cohort_week, a.week_offset, s.n_cohort
    """,
    tags=("relational", "cohort", "retention"),
)
def e14_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by signup week (their
    first 'signup' event), counted as active in each subsequent week
    they produced ANY event — the (cohort × week-offset) triangle
    behind every retention curve. Pure integer epoch-week arithmetic,
    so cross-engine parity is exact. Plan shape: signup is a min-agg
    on user_id; the activity join, distinct and count all reuse the
    user_id / cohort hash partitioning — two shuffles end to end, and
    the cohort-size join is a tiny broadcast at any scale (one row per
    week)."""
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    week = (ms / F.lit(604800000)).cast("long")  # floor: ms >= 0
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", week.alias("week")
    )
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("week").alias("cohort_week"))
    )
    activity = (
        ev.join(signup, "user_id")
        .filter(F.col("week") >= F.col("cohort_week"))
        .select(
            "cohort_week",
            "user_id",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    sizes = signup.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select("cohort_week", "week_offset", "n_active", "n_cohort")
    )


@register(
    "e13_outliers_iqr",
    oracle="""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                           OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(min(q.q1), 4) AS q1, round(min(q.q3), 4) AS q3
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type
    """,
    tags=("relational", "agg", "quality"),
)
def e13_outliers_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped IQR outlier detection (Tukey fences): per event_type,
    exact quartiles via linear interpolation (Spark ``percentile`` ==
    DuckDB ``quantile_cont``, both type-7), then count values outside
    [q1 - 1.5·IQR, q3 + 1.5·IQR]. The standard distribution-free
    anomaly screen for a metrics column.

    Scale: exact quantiles force a first aggregation pass; its output
    is one row per group — broadcast back into the counting pass, so
    the fact table is scanned twice but shuffled only once (the
    groupBy). When two passes are too expensive, swap
    ``percentile`` → ``approx_percentile`` (t-digest, one pass,
    mergeable) — the e13_approx_aggs family demonstrates that tier;
    this query pins the exact semantics."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(out, 1).otherwise(0)).alias("n_outliers"),
            F.round(F.min("q1"), 4).alias("q1"),
            F.round(F.min("q3"), 4).alias("q3"),
        )
    )


@register(
    "x_url_functions",
    oracle=r"""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || doc_id
               || '?lang=' || lang || '&n=' || n_chars AS url
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^https?://([^/]+)', 1) AS host,
           regexp_extract(url, '^https?://[^/]+([^?#]*)', 1) AS path,
           regexp_extract(url, '\?(.*)$', 1) AS query,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param,
           regexp_extract(url, '^([a-z]+)://', 1) AS protocol
    FROM u
    """,
    tags=("scalar", "url"),
)
def x_url_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing sweep (web-corpus curation needs host/path/query
    splits for domain filtering, dedup keys, and per-site sampling):
    Spark's codegen'd ``parse_url`` — HOST/PATH/QUERY/QUERY(key)/
    PROTOCOL — checked against a from-scratch regex oracle over the
    same deterministically synthesized URLs (the fixtures carry no URL
    column, so the inputs are built from source/doc_id/lang — both
    engines see identical strings and the outputs must agree exactly).

    Scale: pure scan+project, whole-stage codegen, no shuffle; this is
    the idiom that replaces per-row Python urlparse UDFs (the classic
    100×-slower web-pipeline anti-pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
        F.lit("&n="), F.col("n_chars").cast("string"),
    )
    u = docs.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY")).alias("query"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("lang")).alias(
            "lang_param"
        ),
        F.parse_url(F.col("url"), F.lit("PROTOCOL")).alias("protocol"),
    )


@register(
    "g_pagerank",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), deg AS (
      SELECT src, CAST(count(*) AS DOUBLE) AS d FROM edges GROUP BY src
    ), n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
    r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM n) AS r FROM deg),
    r1 AS (SELECT e.dst AS node,
                  0.15 / (SELECT n FROM n) + 0.85 * sum(p.r / deg.d) AS r
           FROM edges e JOIN r0 p ON e.src = p.node
           JOIN deg ON e.src = deg.src GROUP BY e.dst),
    r2 AS (SELECT e.dst AS node,
                  0.15 / (SELECT n FROM n) + 0.85 * sum(p.r / deg.d) AS r
           FROM edges e JOIN r1 p ON e.src = p.node
           JOIN deg ON e.src = deg.src GROUP BY e.dst),
    r3 AS (SELECT e.dst AS node,
                  0.15 / (SELECT n FROM n) + 0.85 * sum(p.r / deg.d) AS r
           FROM edges e JOIN r2 p ON e.src = p.node
           JOIN deg ON e.src = deg.src GROUP BY e.dst),
    r4 AS (SELECT e.dst AS node,
                  0.15 / (SELECT n FROM n) + 0.85 * sum(p.r / deg.d) AS r
           FROM edges e JOIN r3 p ON e.src = p.node
           JOIN deg ON e.src = deg.src GROUP BY e.dst),
    r5 AS (SELECT e.dst AS node,
                  0.15 / (SELECT n FROM n) + 0.85 * sum(p.r / deg.d) AS r
           FROM edges e JOIN r4 p ON e.src = p.node
           JOIN deg ON e.src = deg.src GROUP BY e.dst)
    SELECT node, round(r, 8) AS rank FROM r5
    """,
    tags=("graph", "iterative"),
)
def g_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph (parts sharing an order),
    5 synchronous iterations, damping 0.85 — the iterative-algorithm
    representative beyond connected components (E20): per round, each
    node splits its rank over its out-edges and every node resums
    0.15/N + 0.85·(incoming). The co-purchase graph is symmetric, so
    every node has in- and out-edges and no dangling-mass or
    missing-node branch is needed (the general form adds a left join
    + dangling redistribution).

    Scale: the loop is driver-side PLAN construction only — data never
    leaves the cluster. Each iteration is one edges⋈ranks join plus a
    dst-keyed aggregate, both hash-partitioned on the node id (the BSP
    round every distributed graph engine runs); edges and degrees are
    computed once and persisted. At a fixed 5 iterations the lineage
    is shallow enough to skip checkpointing; convergence-driven runs
    use the localCheckpoint-per-round pattern from
    operators/cluster.py. The oracle unrolls the same 5 rounds as SQL
    CTE layers, so the driver hash-checks real iterative numerics
    (rounded to 8dp; rank mass is far off any decimal grid)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
        .persist()
    )
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("d")
    )
    ed = edges.join(deg, "src").persist()
    n = deg.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ranks = deg.select("src").join(F.broadcast(n)).select(
        F.col("src").alias("node"), (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(5):
        contribs = (
            ed.join(ranks, ed.src == ranks.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") / F.col("d")).alias("mass"))
        )
        ranks = contribs.join(F.broadcast(n)).select(
            "node",
            (F.lit(0.15) / F.col("n") + 0.85 * F.col("mass")).alias("r"),
        )
    return ranks.select("node", F.round("r", 8).alias("rank"))


@register(
    "s_compaction_roundtrip",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total
    FROM events GROUP BY event_type
    """,
    tags=("relational", "sink", "layout", "maintenance"),
)
def s_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance op every
    streaming/incremental sink eventually needs: a fragmented dataset
    (here deliberately written as 64 splinter files, the shape a
    per-trigger micro-batch sink produces) is rewritten into
    target-sized files via a single `repartition(4)` pass, and the
    aggregate over the compacted copy must be byte-identical to the
    oracle over the original. At 100 TB compaction runs per partition
    with `maxRecordsPerFile` bounding file size; the rewrite is one
    round-robin exchange — no keyed shuffle — and commits atomically
    by directory swap (here: overwrite).

    The file-count contract (64 → 4) is asserted here rather than in a
    plan test: it IS the operator's output."""
    import os
    import shutil

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/compaction"
    shutil.rmtree(base, ignore_errors=True)
    frag, compact = f"{base}/frag", f"{base}/compact"

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    n_frag = sum(f.endswith(".parquet") for f in os.listdir(frag))

    frag_df = spark.read.parquet(frag)
    frag_df.repartition(4).write.mode("overwrite").parquet(compact)
    n_compact = sum(f.endswith(".parquet") for f in os.listdir(compact))
    # Zero-row inputs collapse to a single empty file per write — the
    # 64→4 contract only holds when there are rows to fragment.
    if not frag_df.isEmpty():
        assert n_frag == 64 and n_compact == 4, (n_frag, n_compact)

    return (
        spark.read.parquet(compact)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
    )


@register(
    "s_schema_evolution_merge",
    oracle="""
    SELECT doc_id, lang, NULL AS quality_score FROM documents
    WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, lang, CAST(n_chars AS DOUBLE) / 100.0 AS quality_score
    FROM documents WHERE doc_id % 2 = 1
    """,
    tags=("relational", "sink", "schema"),
)
def s_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a growing dataset: generation 1 writes
    (doc_id, lang); generation 2 appends the same table WITH a new
    quality_score column (the standard additive-column evolution every
    long-lived corpus undergoes). Reading with ``mergeSchema=true``
    reconciles the parquet footers into the union schema and
    null-fills the old files' missing column — exactly what the oracle
    states as a UNION ALL with NULLs.

    Scale: mergeSchema pays a footer read per file at planning time —
    on big tables pin the evolved schema explicitly (.schema(...)) or
    keep it in a catalog/metastore; either way OLD FILES ARE NEVER
    REWRITTEN, which is the point (at 100 TB a rewrite is days, a
    footer merge is seconds)."""
    import os
    import shutil

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/schema_evo"
    shutil.rmtree(base, ignore_errors=True)

    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(base)
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        (F.col("n_chars").cast("double") / 100.0).alias("quality_score"),
    ).write.mode("append").parquet(base)

    return spark.read.option("mergeSchema", "true").parquet(base).select(
        "doc_id", "lang", "quality_score"
    )


@register(
    "e13_bitmap_presence",
    oracle="""
    SELECT event_type,
           CAST(bit_or(1::BIGINT << CAST(user_id % 62 AS INTEGER)) AS BIGINT)
             AS presence_bitmap,
           CAST(bit_count(bit_or(1::BIGINT << CAST(user_id % 62 AS INTEGER)))
             AS BIGINT) AS n_buckets_hit
    FROM events GROUP BY event_type
    """,
    tags=("relational", "agg", "sketch"),
)
def e13_bitmap_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap presence summary — the fixed-width cousin of the HLL
    rollup (E35): per group, OR together one-hot bucket bits of the
    key (user_id mod 62 here; a real deployment buckets by hash) into
    a single 64-bit word, plus its popcount. The word is tiny,
    mergeable by OR at any re-grain, and supports instant set algebra
    (AND = co-presence, OR = union coverage) — the primitive behind
    roaring-bitmap audience/segment systems, demonstrated at word
    width. All-integer arithmetic: the oracle matches exactly.

    Scale: a map-side partial bit_or collapses each partition to one
    word per group before the shuffle — bytes move, not rows."""
    ev = load_table(spark, sf_dir, "events")
    # F.shiftleft takes a Python int for numBits; the per-row shift
    # needs the SQL form
    bit = F.expr("shiftleft(cast(1 as bigint), cast(user_id % 62 as int))")
    return ev.groupBy("event_type").agg(
        F.bit_or(bit).alias("presence_bitmap"),
        F.bit_count(F.bit_or(bit)).cast("long").alias("n_buckets_hit"),
    )


def _morton_spread(col_expr: str) -> str:
    """SQL for spreading a 16-bit int's bits to even positions of a
    32-bit word (the standard interleave ladder, all codegen'd
    bigint ops)."""
    x = f"cast({col_expr} as bigint)"
    x = f"((({x}) | ({x}) << 8) & 16711935)"          # 0x00FF00FF
    x = f"((({x}) | ({x}) << 4) & 252645135)"         # 0x0F0F0F0F
    x = f"((({x}) | ({x}) << 2) & 858993459)"         # 0x33333333
    x = f"((({x}) | ({x}) << 1) & 1431655765)"        # 0x55555555
    return x


@register(
    "s_zorder_layout",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total
    FROM events
    WHERE user_id % 1024 < 64
      AND (epoch_ms(ts) // 3600000) % 1024 < 64
    """,
    tags=("relational", "sink", "layout"),
)
def s_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data layout — multi-dimensional data
    skipping, the step past single-column range sorting (E41): the
    16-bit bucket ids of TWO filter dimensions (user bucket, hour
    bucket) bit-interleave into one Morton key via the shift-and-mask
    spread ladder (pure codegen bigint ops, no UDF);
    ``repartitionByRange(morton)`` + ``sortWithinPartitions`` then
    cluster the write so every file covers a small Z-curve rectangle —
    and a conjunctive filter on EITHER or BOTH dimensions prunes
    row-groups on parquet min/max stats. A lexicographic (a, b) sort
    only skips on the leading column; the Z-curve bounds both.

    The oracle is the filtered aggregate over the original table —
    layout must never change results; the skipping benefit shows in
    the scan's rowgroup counters at scale (at fixture scale the
    contract is correctness + the clustered write path executing)."""
    import os
    import shutil

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/zorder"
    shutil.rmtree(base, ignore_errors=True)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        # integer div on both engines (DuckDB CAST rounds, Spark cast
        # truncates — `div` sidesteps the disagreement)
        F.expr("unix_millis(cast(ts as timestamp)) div 3600000").alias(
            "hour_bucket"
        ),
    )
    a = _morton_spread("user_id % 1024")
    b = _morton_spread("hour_bucket % 1024")
    zed = ev.withColumn("__z", F.expr(f"({a}) | (({b}) << 1)"))
    (
        zed.repartitionByRange(8, "__z")
        .sortWithinPartitions("__z")
        .write.mode("overwrite")
        .parquet(base)
    )
    back = spark.read.parquet(base).filter(
        (F.col("user_id") % 1024 < 64) & (F.col("hour_bucket") % 1024 < 64)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
    )


@register(
    "e4_spatial_grid_join",
    oracle="""
    WITH p AS (
      SELECT event_id,
             (event_id * 7919) % 1000 AS x,
             (event_id * 104729) % 1000 AS y
      FROM events
    ), s AS (
      SELECT (c_custkey * 7919) % 1000 AS sx,
             (c_custkey * 104729) % 1000 AS sy
      FROM customer
    )
    SELECT p.event_id,
           CAST(count(*) AS BIGINT) AS n_within,
           CAST(min((x - sx) * (x - sx) + (y - sy) * (y - sy)) AS BIGINT)
             AS min_d2
    FROM p, s
    WHERE (x - sx) * (x - sx) + (y - sy) * (y - sy) <= 2500
    GROUP BY p.event_id
    """,
    tags=("relational", "join", "spatial"),
)
def e4_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join via grid bucketing — the 2-D sibling of the
    as-of/range-join family: for every point (synthesized planar
    coordinates from event ids — integer arithmetic, so the oracle is
    EXACT, no trig-libm ulps), count the stations within radius R=50
    and the squared distance to the nearest. Cell size = R, so every
    within-R station of a point in cell (cx, cy) lies in the 3×3
    neighbor cells: the small station side explodes ×9 into its
    neighbor cells (dimension-sized), the join is a plain equi-join on
    the cell key, and the exact distance filter prunes the candidate
    ring. The oracle is the O(n·m) cross join — the same
    complexity-class contrast as the dedup ladder: candidates per
    point ≈ stations in 9 cells, not all stations.

    Scale: fact side never replicates (the ×9 explode is on the
    station/dimension side); the equi-join broadcasts while stations
    are dimension-sized and degrades to a hash join on cell keys —
    which is also the skew story: cell id is high-cardinality and
    uniform under any hash-ish coordinate spread."""
    R, R2 = 50, 2500
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("event_id") * 7919) % 1000).alias("x"),
        ((F.col("event_id") * 104729) % 1000).alias("y"),
    )
    st = load_table(spark, sf_dir, "customer").select(
        ((F.col("c_custkey") * 7919) % 1000).alias("sx"),
        ((F.col("c_custkey") * 104729) % 1000).alias("sy"),
    )
    offsets = spark.range(-1, 2).select(F.col("id").alias("ox")).crossJoin(
        spark.range(-1, 2).select(F.col("id").alias("oy"))
    )
    st_cells = st.crossJoin(F.broadcast(offsets)).select(
        "sx",
        "sy",
        (F.expr(f"sx div {R}") + F.col("ox")).alias("scx"),
        (F.expr(f"sy div {R}") + F.col("oy")).alias("scy"),
    )
    pts = ev.select(
        "event_id",
        "x",
        "y",
        F.expr(f"x div {R}").alias("cx"),
        F.expr(f"y div {R}").alias("cy"),
    )
    d2 = (F.col("x") - F.col("sx")) ** 2 + (F.col("y") - F.col("sy")) ** 2
    return (
        pts.join(
            F.broadcast(st_cells),
            (F.col("cx") == F.col("scx")) & (F.col("cy") == F.col("scy")),
        )
        .withColumn("d2", d2.cast("long"))
        .filter(F.col("d2") <= R2)
        .groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("n_within"),
            F.min("d2").alias("min_d2"),
        )
    )


@register(
    "e14_inactivity_gaps",
    oracle="""
    WITH o AS (
      SELECT user_id, epoch_ms(ts) AS ms,
             lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT user_id, prev AS gap_start_ms, ms AS gap_end_ms,
           ms - prev AS gap_ms
    FROM o
    WHERE prev IS NOT NULL AND ms - prev > 6 * 3600 * 1000
    """,
    tags=("relational", "window", "timeseries"),
)
def e14_inactivity_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap detection — the complement of sessionization
    (E14's gaps-and-islands finds activity islands; this reports the
    GAPS): per user, every silence longer than 6 hours with its
    bounds. The uptime/downtime report shape for device fleets and
    the feed-freshness monitor for pipelines.

    One lag() over (user_id, ts) — co-partitioned with every other
    per-user window in the suite, one shuffle, no join. Ties on ts
    break by event_id so both engines see the same neighbor."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    return (
        ev.withColumn("prev", F.lag("ms").over(w))
        .filter(
            F.col("prev").isNotNull()
            & (F.col("ms") - F.col("prev") > 6 * 3600 * 1000)
        )
        .select(
            "user_id",
            F.col("prev").alias("gap_start_ms"),
            F.col("ms").alias("gap_end_ms"),
            (F.col("ms") - F.col("prev")).alias("gap_ms"),
        )
    )


@register(
    "e14_ohlc_bars",
    oracle="""
    WITH b AS (
      SELECT event_type,
             (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
             epoch_ms(ts) * 1000000 + event_id % 1000000 AS ord,
             value
      FROM events
    )
    SELECT event_type, bucket_ms,
           round(arg_min(value, ord), 2) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round(arg_max(value, ord), 2) AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY 1, 2
    """,
    tags=("relational", "agg", "timeseries"),
)
def e14_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars — the financial-resample classic: per
    (series, hour) the opening (earliest), highest, lowest, and
    closing (latest) value plus the tick count, all in ONE aggregate
    pass via min_by/max_by (no window, no self-join, no sort).
    First/last are tie-broken by a composite (ts, event_id) integer
    key so simultaneous ticks resolve identically on both engines —
    the detail that separates a reproducible OHLC from a flaky one.

    Scale: a plain partial-agg'd groupBy on (series, bucket) — the
    min_by/max_by pairs carry (value, key) partials, so the map side
    collapses each partition to one candidate per bar before the
    shuffle. This is the single-pass shape; the window formulation
    (first_value/last_value over ordered frames) costs a sort per
    partition and is only needed when you also want running columns."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(unix_millis(cast(ts as timestamp)) div 3600000) * 3600000")
        .alias("bucket_ms"),
        # composite tie-break key: epoch-ms shifted + event_id (DuckDB's
        # arg_min takes scalars only, so the struct form is off the
        # table; ms*1e6 stays inside int64 through year 9999)
        F.expr(
            "unix_millis(cast(ts as timestamp)) * 1000000"
            " + event_id % 1000000"
        ).alias("ord"),
        "value",
    )
    return ev.groupBy("event_type", "bucket_ms").agg(
        F.round(F.expr("min_by(value, ord)"), 2).alias("open"),
        F.round(F.max("value"), 2).alias("high"),
        F.round(F.min("value"), 2).alias("low"),
        F.round(F.expr("max_by(value, ord)"), 2).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


_CMS_W = 2048
_CMS_ROWS = [(31, 7), (131, 101), (1031, 1009), (13, 3)]  # (a, b) per hash
_CMS_P = 1_000_003


@register(
    "e13_cms_heavy_hitters",
    oracle=f"""
    WITH cells AS (
      SELECT i, ((a * user_id + b) % {_CMS_P}) % {_CMS_W} AS cell,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events CROSS JOIN (VALUES
        (0, 31, 7), (1, 131, 101), (2, 1031, 1009), (3, 13, 3)
      ) AS h(i, a, b)
      GROUP BY 1, 2
    ), top10 AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
      FROM events GROUP BY user_id
      ORDER BY true_cnt DESC, user_id LIMIT 10
    ), probes AS (
      SELECT t.user_id, t.true_cnt, h.i,
             ((h.a * t.user_id + h.b) % {_CMS_P}) % {_CMS_W} AS cell
      FROM top10 t CROSS JOIN (VALUES
        (0, 31, 7), (1, 131, 101), (2, 1031, 1009), (3, 13, 3)
      ) AS h(i, a, b)
    )
    SELECT p.user_id, p.true_cnt,
           CAST(min(c.cnt) AS BIGINT) AS est,
           CAST(min(c.cnt) >= p.true_cnt AS BIGINT) AS overcount_ok
    FROM probes p JOIN cells c ON p.i = c.i AND p.cell = c.cell
    GROUP BY p.user_id, p.true_cnt
    """,
    tags=("relational", "agg", "sketch"),
)
def e13_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters — the mergeable approximate
    tier beside the exact top-N (E28) and the HLL rollup (E35): d=4
    pairwise-independent-style hash rows × w=2048 counters, built as
    a plain groupBy over (row, cell) — the sketch IS a tiny DataFrame
    (≤ d·w rows), mergeable by addition at any re-grain, and the
    point estimate for a key is the min over its d cells, carrying
    the classic one-sided guarantee est ≥ true (never undercounts;
    overcount bounded by εN, ε = e/w). The hash family is affine
    modular arithmetic — integer-exact, so the DuckDB oracle builds
    the identical sketch and the driver hash-checks real sketch
    numerics, not just bounds. Output: the exact top-10 keys with
    true count, CMS estimate, and the verified one-sided contract.

    Scale: the fact table collapses map-side to ≤ d·w partial cells
    per partition before the shuffle (bytes move, not rows); the
    probe side is 10 keys × d cells joined against the dimension-
    sized sketch. Tie-break at the top-10 boundary is (count desc,
    key asc) on both engines."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    hash_rows = ", ".join(
        f"{i}L, ((({a} * user_id + {b}) % {_CMS_P}) % {_CMS_W})"
        for i, (a, b) in enumerate(_CMS_ROWS)
    )
    cells = (
        ev.select(
            F.expr(f"stack({len(_CMS_ROWS)}, {hash_rows}) as (i, cell)")
        )
        .groupBy("i", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top10 = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("user_id"))
        .limit(10)
    )
    probes = top10.select(
        "user_id",
        "true_cnt",
        F.expr(f"stack({len(_CMS_ROWS)}, {hash_rows}) as (i, cell)"),
    )
    return (
        probes.join(F.broadcast(cells), ["i", "cell"])
        .groupBy("user_id", "true_cnt")
        .agg(
            F.min("cnt").alias("est"),
            (F.min("cnt") >= F.col("true_cnt")).cast("long").alias(
                "overcount_ok"
            ),
        )
    )
