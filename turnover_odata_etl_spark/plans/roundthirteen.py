"""Round-13 queries — REGISTERED in round 14 per the r13 verdict's cap
ruling ("REGISTER all four staged round-13 queries ... the cap moves
211 → 215, then the registry is frozen again"). Staged in round 13 with
oracles + bench history + empty-sweep coverage, judge-verified at
sf0.001 + sf0.01 before the ruling (the roundeight→roundtwelve
lifecycle).

``s_snapshot_agg_stats`` — metadata-only aggregates (VERDICT r12
item 2 / SURVEY E116, ``SnapshotTable.agg_stats``): ``count(*)`` /
per-column ``min``/``max`` answered purely from manifest entries —
O(manifest) driver work, zero data files opened (Iceberg's metadata
tables / Delta's stats-only scans). The lifecycle query runs the DML
verbs a 100-TB table actually sees (append slices → range delete →
keyed merge), then answers the same aggregate through BOTH paths —
the manifest (``agg_stats``) and a full scan — and returns the two
rows side by side; the oracle computes the post-DML aggregate twice,
so any divergence between metadata and data hash-fails.

``s_snapshot_bloom_pruned_delete`` — per-file bloom filters (VERDICT
r12 item 3 / SURVEY E117): high-cardinality string equality pruning
where truncate-16 prefix windows are wide. Files carry a k-hash
bitset per (file, col) in the manifest; equality probes consult it
(absent → must-read; a negative NEVER skips a match — soundness
fuzzed in tests/test_snapshot_bloom.py). The lifecycle query deletes
by email-shaped equality through the bloom-pruned path and returns
the surviving aggregate against an exact oracle.

``s_join_cobucketed`` — shuffle-free co-bucketed snapshot join
(VERDICT r12 item 4 / SURVEY E118, ``operators/cobucket``): the
storage-partitioned-join shape — two tables bucketed on the join key
with the same bucket count zip equal-bucket file groups worker-side;
zero data exchanges, zero JVM scans in the plan (plan-pinned in
tests/test_cobucket.py), exact parity with the plain join.

``s_snapshot_history`` — the metadata-table ledger (SURVEY E120,
``SnapshotTable.history``): per-snapshot (id, operation, row count)
after the full verb sequence, against an oracle that recomputes each
verb's expected cardinality closed-form. Fixture contract the oracle
leans on (all driver scales satisfy it): events is non-empty, some
value lies in [100, 250] and some event_id % 3 == 0 — otherwise the
corresponding verb no-ops WITHOUT a commit (correct engine behavior)
and the ledger has fewer rows than the oracle's fixed six.

Activation checklist (mirror of roundtwelve's) — EXECUTED round 14:
specs moved into ``@register`` form, roundthirteen imported in
``plans/__init__``, the four queries lead the r14 gate window,
STAGED_R13 → ADDITIONS_R13 in bench.py, staged empty-sweep block
folded into the registry sweep, registry-count pins moved to 215,
plan-audit adjudications recorded (the agg_stats meta row is a 1-row
local frame — driver metadata by design, no Spark job is the point;
the scan row is one full-table aggregate; the history ledger is
O(snapshots) driver metadata).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from .registry import register


def _append_id_slices(t, ev, mn: int, mx: int, n: int = 3) -> list:
    """Bootstrap a snapshot table as ``n`` id-range appends (NULL ids
    routed to the last slice — the TOTAL-partition discipline);
    shared by the round-13/15 lifecycle queries (review r13 — one
    place for the slicing the HISTORY_ORACLE mirrors in SQL).
    Returns the snapshot id CURRENT AFTER EACH SLICE (review r15 —
    an empty slice no-ops without a commit, so positional
    ``snapshot_ids()`` reads are wrong; the returned id still pins
    the correct CONTENT state for that slice)."""
    span = max(1, (mx - mn + 1) // n)
    ids = []
    for w in range(n):
        lo = mn + w * span
        hi = mx if w == n - 1 else mn + (w + 1) * span - 1
        sl = (F.col("event_id") >= lo) & (F.col("event_id") <= hi)
        if w == n - 1:
            sl = sl | F.col("event_id").isNull()
        t.append(ev.filter(sl).withColumn("__ver", F.lit(w + 1)))
        ids.append(t.current_id())
    return ids


_AGG_SCHEMA = (
    "path string, n_rows long, min_v double, max_v double, "
    "n_v long, min_et string, max_et string, min_id long, "
    "max_id long, files_read long"
)

AGG_STATS_ORACLE = """
    WITH base AS (
      SELECT event_id, event_type, value FROM events
    ), d1 AS (
      -- delete_where('value BETWEEN 100 AND 250'): rows where the
      -- predicate is TRUE are removed; NULL values survive
      SELECT * FROM base WHERE NOT ((value BETWEEN 100 AND 250) IS TRUE)
    ), m1 AS (
      -- keep-latest merge of value+1000 updates for event_id % 3 = 0
      -- (sourced from the ORIGINAL rows, so deleted ids can return)
      SELECT event_id, event_type, value + 1000 AS value
      FROM base WHERE event_id % 3 = 0
    ), t1 AS (
      SELECT * FROM d1
      WHERE event_id IS NULL
         OR event_id NOT IN (SELECT event_id FROM m1)
      UNION ALL SELECT * FROM m1
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             min(value) AS min_v, max(value) AS max_v,
             CAST(count(value) AS BIGINT) AS n_v,
             min(event_type) AS min_et, max(event_type) AS max_et,
             CAST(min(event_id) AS BIGINT) AS min_id,
             CAST(max(event_id) AS BIGINT) AS max_id,
             CAST(0 AS BIGINT) AS files_read
      FROM t1
    )
    SELECT 'meta' AS path, * FROM a
    UNION ALL
    SELECT 'scan' AS path, * FROM a
"""


@register(
    "s_snapshot_agg_stats",
    oracle=AGG_STATS_ORACLE,
    tags=("storage", "snapshot", "metadata", "stats", "bench:additions_r13"),
)
def s_snapshot_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregates lifecycle (SURVEY E116,
    ``SnapshotTable.agg_stats``): bootstrap events as three id-sliced
    appends (NULL ids routed to the last slice — the TOTAL-partition
    discipline), range-delete a value window, keep-latest-merge a
    value bump for every third id, then answer ``count(*)`` /
    ``min``/``max`` over (value, event_type, event_id) through BOTH
    the manifest (``agg_stats`` — zero data files opened, pinned by
    ``files_read`` in the row itself and by the reader spy in
    tests/test_agg_stats.py) and a full scan. The oracle computes the
    post-DML aggregate once and emits it under both path labels, so
    the metadata answer is hash-pinned to the data answer.

    Plan shape: the meta row never launches a Spark job at all —
    that IS the operator (on a 100-TB table this query is O(manifest
    entries) driver work); the scan row is one map-side-combined
    aggregate. All bounds are attained values (no arithmetic), so
    cross-engine float equality is exact."""
    import os
    import shutil

    from ..storage import SnapshotTable

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/agg_stats"
    shutil.rmtree(base, ignore_errors=True)
    t = SnapshotTable(
        spark, os.path.join(base, "events"),
        key_cols=["event_id"], order_col="__ver", n_buckets=8,
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    row = ev.agg(
        F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
    ).first()
    mn, mx = row["mn"], row["mx"]
    if mn is None:
        return spark.createDataFrame([], _AGG_SCHEMA)
    _append_id_slices(t, ev, mn, mx)
    t.delete_where("value BETWEEN 100 AND 250")
    t.merge(
        ev.filter(F.col("event_id") % 3 == 0).select(
            "event_id", "event_type",
            (F.col("value") + 1000).alias("value"),
            F.lit(4).cast("long").alias("__ver"),
        )
    )

    meta = t.agg_stats(["value", "event_type", "event_id"])
    c = meta["columns"]
    meta_row = spark.createDataFrame(
        [(
            "meta", meta["n_rows"],
            c["value"]["min"], c["value"]["max"],
            c["value"]["count"],
            c["event_type"]["min"], c["event_type"]["max"],
            c["event_id"]["min"], c["event_id"]["max"],
            meta["files_read"],
        )],
        _AGG_SCHEMA,
    )
    scan_row = t.read().agg(
        F.lit("scan").alias("path"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("value").alias("min_v"), F.max("value").alias("max_v"),
        F.count("value").alias("n_v"),
        F.min("event_type").alias("min_et"),
        F.max("event_type").alias("max_et"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.lit(0).cast("long").alias("files_read"),
    )
    return meta_row.unionByName(scan_row)


BLOOM_DELETE_ORACLE = """
    WITH b AS (
      SELECT CAST(min(event_id) AS BIGINT) AS mn,
             CAST(max(event_id) AS BIGINT) AS mx
      FROM events WHERE event_id IS NOT NULL
    ), kept AS (
      -- the two email equality deletes remove exactly the rows whose
      -- synthesized email matches: the min id and the max id. The
      -- absent-value probe deletes nothing.
      SELECT e.event_type, e.value
      FROM events e, b
      WHERE e.event_id IS NULL
         OR (e.event_id <> b.mn AND e.event_id <> b.mx)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM kept GROUP BY event_type
"""


@register(
    "s_snapshot_bloom_pruned_delete",
    oracle=BLOOM_DELETE_ORACLE,
    tags=("storage", "snapshot", "bloom", "delete", "bench:additions_r13"),
)
def s_snapshot_bloom_pruned_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-file bloom-filter equality pruning (SURVEY E117 / VERDICT
    r12 item 3): the GDPR probe shape — ``DELETE WHERE email = x`` on
    a NON-key high-cardinality string column. The email is
    synthesized with a 16-code-point SHARED prefix
    (``customer-record-``), so every file's truncate-16 stats window
    covers every probe and prefix stats prune NOTHING — the per-file
    bloom bitsets (built per commit by ``_attach_blooms``, consulted
    by ``_split_candidates``) are the only thing standing between the
    probe and a full-table read. Three id-sliced appends, two present
    probes (the min-id and max-id emails), one absent probe (a
    zero-read no-op, pinned by the spy tests in
    tests/test_snapshot_bloom.py); values against an exact oracle.

    At 100 TB this is the weekly right-to-be-forgotten scan: without
    blooms the equality delete reads every file of every candidate
    bucket; with them it opens only bloom-positive files (FPR ≈ 0.1%
    at 16 bits/row, k=5)."""
    import os
    import shutil

    from ..storage import SnapshotTable

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/bloom_delete"
    shutil.rmtree(base, ignore_errors=True)
    t = SnapshotTable(
        spark, os.path.join(base, "events"),
        key_cols=["event_id"], order_col="__ver", n_buckets=8,
        bloom_cols=["email"],
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value",
        F.concat(
            F.lit("customer-record-"),
            F.col("event_id").cast("string"),
            F.lit("@example.com"),
        ).alias("email"),
    )
    row = ev.agg(
        F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
    ).first()
    mn, mx = row["mn"], row["mx"]
    if mn is None:
        return spark.createDataFrame(
            [], "event_type string, n_events long, sum_value double"
        )
    _append_id_slices(t, ev, mn, mx)
    for probe_id in (mn, mx):
        t.delete_where(
            f"email = 'customer-record-{probe_id}@example.com'"
        )
    t.delete_where("email = 'absent@example.com'")  # bloom no-op
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


HISTORY_ORACLE = """
    WITH b AS (
      SELECT CAST(min(event_id) AS BIGINT) AS mn,
             CAST(max(event_id) AS BIGINT) AS mx,
             greatest(1, (CAST(max(event_id) AS BIGINT)
                          - CAST(min(event_id) AS BIGINT) + 1) // 3)
               AS span
      FROM events WHERE event_id IS NOT NULL
    ), sliced AS (
      SELECT e.*, CASE
        WHEN e.event_id IS NULL THEN 3
        WHEN e.event_id <  b.mn + b.span     THEN 1
        WHEN e.event_id <  b.mn + 2 * b.span THEN 2
        ELSE 3 END AS slice
      FROM events e, b
    ), c AS (
      SELECT
        (SELECT count(*) FROM sliced WHERE slice <= 1) AS a1,
        (SELECT count(*) FROM sliced WHERE slice <= 2) AS a2,
        (SELECT count(*) FROM sliced)                  AS a3,
        (SELECT count(*) FROM events
          WHERE NOT ((value BETWEEN 100 AND 250) IS TRUE)) AS d4,
        (SELECT count(*) FROM (
           SELECT event_id FROM events
            WHERE NOT ((value BETWEEN 100 AND 250) IS TRUE)
              AND (event_id IS NULL
                   OR event_id NOT IN (
                       SELECT event_id FROM events
                        WHERE event_id % 3 = 0))
           UNION ALL
           SELECT event_id FROM events WHERE event_id % 3 = 0
        )) AS m5
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS snapshot_id, 'append' AS operation,
             CAST(a1 AS BIGINT) AS n_rows FROM c
      UNION ALL SELECT 2, 'append', CAST(a2 AS BIGINT) FROM c
      UNION ALL SELECT 3, 'append', CAST(a3 AS BIGINT) FROM c
      UNION ALL SELECT 4, 'delete', CAST(d4 AS BIGINT) FROM c
      UNION ALL SELECT 5, 'merge',  CAST(m5 AS BIGINT) FROM c
      UNION ALL SELECT 6, 'zorder', CAST(m5 AS BIGINT) FROM c
    )
"""


@register(
    "s_snapshot_history",
    oracle=HISTORY_ORACLE,
    tags=("storage", "snapshot", "metadata", "history", "bench:additions_r13"),
)
def s_snapshot_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot HISTORY metadata table (SURVEY E120,
    ``SnapshotTable.history`` — Iceberg's ``table$snapshots`` /
    Delta's DESCRIBE HISTORY): the audit trail a transaction log
    exists for, exercised end-to-end — three id-sliced appends, a
    range delete, a keep-latest merge, and an OPTIMIZE-class Z-order
    rewrite, then the per-snapshot (id, operation, row count) ledger
    against an oracle that recomputes every verb's expected
    cardinality closed-form. Pins three things at once: operation
    attribution, TIME-TRAVEL row counts (each history row is the
    table AS OF that snapshot, summed from manifest entries — zero
    data files opened), and the zorder rewrite's row preservation.

    The history walk is O(snapshots × manifest entries) driver
    metadata — the introspection surface, not a data path."""
    import os
    import shutil

    from ..storage import SnapshotTable

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/history"
    shutil.rmtree(base, ignore_errors=True)
    t = SnapshotTable(
        spark, os.path.join(base, "events"),
        key_cols=["event_id"], order_col="__ver", n_buckets=8,
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    row = ev.agg(
        F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
    ).first()
    mn, mx = row["mn"], row["mx"]
    if mn is None:
        return spark.createDataFrame(
            [], "snapshot_id long, operation string, n_rows long"
        )
    _append_id_slices(t, ev, mn, mx)
    t.delete_where("value BETWEEN 100 AND 250")
    t.merge(
        ev.filter(F.col("event_id") % 3 == 0).select(
            "event_id", "event_type", "value",
            F.lit(4).cast("long").alias("__ver"),
        )
    )
    t.rewrite_zorder(["value", "event_id"], rows_per_file=4096)
    hist = t.history()
    return spark.createDataFrame(
        [
            (h["snapshot_id"], h["operation"], h["n_rows"])
            for h in hist
        ],
        "snapshot_id long, operation string, n_rows long",
    )


COBUCKET_ORACLE = """
    WITH roll AS (
      SELECT l_orderkey AS o_orderkey,
             sum(l_extendedprice * (1 - l_discount)) AS revenue,
             CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem WHERE l_quantity >= 30
      GROUP BY l_orderkey
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(roll.revenue) AS BIGINT) AS n_matched,
           round(sum(coalesce(roll.revenue, 0)), 2) AS rev
    FROM orders o LEFT JOIN roll USING (o_orderkey)
    GROUP BY o.o_orderpriority
"""


@register(
    "s_join_cobucketed",
    oracle=COBUCKET_ORACLE,
    tags=("storage", "snapshot", "join", "cobucket", "bench:additions_r13"),
)
def s_join_cobucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-bucketed snapshot join (SURVEY E118 / VERDICT
    r12 item 4, ``operators/cobucket.join_cobucketed``): orders and a
    per-order lineitem rollup live as two SnapshotTables bucketed on
    the SAME key with the same bucket count, so the join zips
    equal-bucket file groups worker-side — the Catalyst plan contains
    zero data exchanges and zero JVM scans (one n_buckets-row task
    exchange; plan-pinned in tests/test_cobucket.py). The rollup
    keeps only heavy lines (quantity ≥ 30) so the LEFT join exercises
    real unmatched probes; the aggregate is priority-grain against an
    exact oracle.

    At 100 TB this is the storage-partitioned-join shape: every
    index-maintenance or fact⋈fact key join on co-laid-out tables
    pays two full-table exchanges without it and none with it."""
    import os
    import shutil

    from ..operators.cobucket import join_cobucketed
    from ..storage import SnapshotTable

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/cobucket"
    shutil.rmtree(base, ignore_errors=True)
    t_orders = SnapshotTable(
        spark, os.path.join(base, "orders"),
        key_cols=["o_orderkey"], order_col="__ver", n_buckets=8,
    )
    t_roll = SnapshotTable(
        spark, os.path.join(base, "items_roll"),
        key_cols=["o_orderkey"], order_col="__ver", n_buckets=8,
    )
    orders = load_table(spark, sf_dir, "orders")
    items = load_table(spark, sf_dir, "lineitem")
    t_orders.append(
        orders.select(
            "o_orderkey", "o_orderpriority", F.lit(1).alias("__ver")
        )
    )
    t_roll.append(
        items.filter(F.col("l_quantity") >= 30)
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .withColumn("__ver", F.lit(1))
    )
    joined = join_cobucketed(
        t_orders, t_roll, ["o_orderkey"], how="left"
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("revenue").alias("n_matched"),
        F.round(F.sum(F.coalesce("revenue", F.lit(0.0))), 2).alias("rev"),
    )


