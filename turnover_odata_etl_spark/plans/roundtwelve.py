"""Round-12 queries — REGISTERED round 13 per the r12 cap ruling
("register all five staged round-12 queries; cap moves 206 → 211,
then frozen again"). Staged round 12 with oracles + bench history +
empty-sweep coverage per the roundeight→roundeleven lifecycle.

``t_bm25_topk`` — the BM25 retrieval rung (VERDICT r11 item 4 /
SURVEY E111): corpus-scale inverted-index top-k retrieval. The query
set is derived deterministically FROM the corpus (global term ranks
5–10 by frequency, paired into three 2-term queries), so the whole
thing — tokenize, postings, document lengths, idf, score, rank — is
closed-form and the DuckDB oracle replays it exactly (the
t_unigram_logprob exactness class).

``s_knn_ivf_persistent`` — the persistent ANN index (VERDICT r11
item 5 / SURVEY E112): wave-1-frozen IVF codebook, postings appended
per wave to a cell-bucketed ``SnapshotTable``, search reads only the
probed cells through ``read_matching``; correctness is the
``s_knn_ivf`` recall contract over the accumulated corpus.

``s_snapshot_merge_into`` — SQL MERGE INTO
(``SnapshotTable.merge_into``): conditional UPDATE SET * / DELETE on
match (t_/s_-prefixed condition), INSERT * on no-match, source
cardinality rule, delete_keys-style layout prune; lifecycle query
composes a conditional upsert and a conditional purge against an
exact oracle.

``s_bm25_incremental`` — the persistent BM25 index (SURVEY E113,
``operators/retrieval.BM25Index``): term-bucketed postings + doc
lengths committed per wave as ONE SnapshotGroup transaction, exact
corpus integers as additive commit properties; converges EXACTLY to
``t_bm25_topk`` so the batch oracle applies verbatim.

``s_snapshot_zorder_skipping`` — Z-order layout (SURVEY E114,
``SnapshotTable.rewrite_zorder`` + ``functions/zorder``): rank-
quantized Morton rewrite, then an oracle-checked window aggregate on
EACH z column through ``read_where`` — values layout-independent,
prune shape measured in SCALE.md round 12.

Activation executed round 13 (the checklist that was staged here):
specs moved into ``@register`` form, roundtwelve imported in
``plans/__init__``, all five added to the r13 gate window,
STAGED_R12 → ADDITIONS_R12 in bench.py, staged empty-sweep block
removed (the registry sweep now covers them), registry-count pins
updated (206 → 211 in test_roundeight/test_roundnine), plan-audit
adjudications as pre-written: the BM25 corpus-stats frames are 1 row
and the query frames ≤6 rows (broadcast by construction); the
incremental queries' per-wave snapshot commits are batch-sized (the
s_snapshot_append_compact class); the IVF contract crossJoin is the
1-row recall row; zorder's quantile cuts are constant literal arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..tables import load_table
from .registry import register

BM25_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS term
      FROM documents WHERE trim(text) <> ''
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl
    ), rk AS (
      SELECT term,
             row_number() OVER (ORDER BY sum(tf) DESC, term) AS rk
      FROM tf GROUP BY term
    ), q AS (
      SELECT CAST((rk - 5) // 2 AS BIGINT) AS query_id, term
      FROM rk WHERE rk BETWEEN 5 AND 10
    ), dfq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df
      FROM tf WHERE term IN (SELECT term FROM q)
      GROUP BY term
    ), scored AS (
      SELECT q.query_id, tf.doc_id,
             round(sum(
               ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * tf.tf
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
             ), 4) AS score
      FROM q
      JOIN tf USING (term)
      JOIN dfq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN s
      GROUP BY q.query_id, tf.doc_id
    )
    SELECT query_id, doc_id, score, CAST(rn AS BIGINT) AS rn FROM (
      SELECT query_id, doc_id, score,
             row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id
             ) AS rn
      FROM scored
    ) WHERE rn <= 10
"""


def _corpus_query_terms(docs: DataFrame) -> DataFrame:
    """(query_id, term): the deterministic corpus-derived query set
    shared by the batch and incremental BM25 queries — global term
    ranks 5–10 by (total count desc, term asc — a total order),
    rank r pairing into query ``(r-5) div 2``. A distributed
    TakeOrdered over the vocab-sized counts, then a 10-row re-rank
    (the t_dsir device: limit first, window the metadata-sized
    result)."""
    tok = docs.select(
        "doc_id", F.explode(TXT.tokens("text")).alias("term")
    )
    top10 = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("gc"))
        .orderBy(F.desc("gc"), F.asc("term"))
        .limit(10)
    )
    ranked = top10.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.desc("gc"), F.asc("term"))
        ),
    )
    return ranked.filter(F.col("rk") >= 5).select(
        ((F.col("rk") - 5) / 2).cast("long").alias("query_id"),
        "term",
    )


@register(
    "t_bm25_topk",
    oracle=BM25_ORACLE,
    tags=("llm", "text", "retrieval", "bench:additions_r12"),
)
def t_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval (operators/retrieval.bm25_topk) for
    three 2-term queries derived from the corpus itself: global term
    ranks 5–10 by (total count desc, term asc — a total order), rank
    r pairing into query ``(r-5) div 2``. Skipping the top-4 terms
    keeps df below N so every idf is comfortably positive and the
    posting lists stay selective — the realistic query regime.

    Plan shape: the rank pick is a distributed TakeOrdered over the
    vocab-sized global counts (never a single-partition window over
    the vocabulary — the t_dsir device: limit first, re-rank the
    10-row result); the retrieval itself broadcasts the 6-row query
    frame into the postings scan, so per-query cost is the posting
    lists of its terms, never the corpus (full shape in the operator
    docstring).

    Determinism: ranking compares 4dp-rounded scores with doc-id
    tie-break on both engines; the score sums ≤ 2 terms, and IEEE
    addition of two doubles is order-insensitive."""
    from ..operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _corpus_query_terms(docs), "doc_id", "text", k=10)


# Approximate neighbor lists aren't SQL-reproducible (the candidate
# set depends on the engine-side codebook), so the query emits the
# recall-contract constants — the s_knn_ivf device: the oracle hash
# fails exactly when recall collapses or the cardinality breaks.
IVF_PERSISTENT_ORACLE = """
    SELECT CAST(5 AS BIGINT) AS k, CAST(50 AS BIGINT) AS floor_pct,
           CAST(100 AS BIGINT) AS n_true, CAST(1 AS BIGINT) AS meets_floor
"""


@register(
    "s_knn_ivf_persistent",
    oracle=IVF_PERSISTENT_ORACLE,
    tags=(
        "llm", "similarity", "storage", "incremental", "bench:additions_r12",
    ),
)
def s_knn_ivf_persistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTENT IVF ANN index (VERDICT r11 item 5 / SURVEY E112) —
    the E106/E109 pattern applied to similarity search: embedding
    batches arrive in waves; wave 1 fits the 16-cell k-means codebook
    which then FREEZES (the published fit-once-on-a-sample deployment
    shape); every wave assigns its arrivals against the frozen
    centroids (map-only GEMM) and APPENDs (cell, nid, vec) postings
    to a cell-bucketed ``SnapshotTable`` — the index is never
    rewritten, re-read, or exchanged at commit time (O(batch) writes,
    the append fast path). Search probes the 4 nearest cells per
    query and reads the index through ``read_matching`` — only the
    probed cells' physical buckets open (at most n_buckets integers
    cross to the driver), then the shared exact re-rank
    (``topk_from_cells``) ranks the candidates.

    Waves are the three exact-order-statistic id ranges (the
    distributed splitter — fixture harness standing in for arrival
    batches). Correctness is the ``s_knn_ivf`` recall contract:
    exact in-Spark brute-force recall@5 over the ACCUMULATED corpus,
    thresholded at 0.50 (the frozen wave-1 codebook costs recall
    vs whole-corpus k-means — measured 0.75 / 0.70 / 0.92 at
    sf0.001 / 0.01 / 0.1; the floor sits 20 points under the worst
    measurement so a driver fixture regeneration can't flip a
    deterministic pass into a flaky one — s_knn_ivf's own floor
    discipline)."""
    import math
    import os
    import shutil

    from ..operators.similarity import (
        assign_to_centroids,
        cosine_topk,
        ivf_probe_cells,
        kmeans_assign,
        recall_contract,
        topk_from_cells,
    )
    from ..storage import SnapshotTable
    from .roundten import _exact_order_stats

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    if n == 0:
        return spark.createDataFrame(
            [], "k long, floor_pct long, n_true long, meets_floor long"
        )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/ivf_persistent"
    shutil.rmtree(base, ignore_errors=True)
    index = SnapshotTable(
        spark, os.path.join(base, "postings"),
        key_cols=["cell", "nid"], order_col="__ver", n_buckets=8,
        bucket_cols=["cell"],
    )

    vecs = emb.select(
        F.col("vec_id").cast("long").alias("nid"),
        F.col("embedding").alias("vec"),
    )
    n1 = math.ceil(n / 3.0)
    n2 = n1 + math.ceil((n - n1) / 2.0)
    cuts = _exact_order_stats(vecs, "nid", [n1, n2])
    cut1 = cuts[n1]
    cut2 = cuts.get(n2, cut1)

    w1 = vecs.filter(F.col("nid") <= cut1)
    _, cents = kmeans_assign(w1, 16)  # wave-1 codebook, then FROZEN
    for lo, hi, ver in (
        (None, cut1, 1),
        (cut1, cut2, 2),
        (cut2, None, 3),
    ):
        chunk = vecs
        if lo is not None:
            chunk = chunk.filter(F.col("nid") > lo)
        if hi is not None:
            chunk = chunk.filter(F.col("nid") <= hi)
        index.append(
            assign_to_centroids(chunk, cents)
            .select("cell", "nid", "vec")
            .withColumn("__ver", F.lit(ver))
        )

    queries = emb.filter(F.col("vec_id") < 20)
    q = queries.select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("vec"),
    )
    probes = ivf_probe_cells(q, cents, nprobe=4)
    pruned = index.read_matching(probes.select("cell"))
    approx = topk_from_cells(probes, pruned, k=5)
    exact = cosine_topk(queries, emb, "vec_id", "embedding", k=5)
    return recall_contract(approx, exact, k=5, floor_pct=50)



@register(
    "s_bm25_incremental",
    # EXACT convergence to the batch answer: the batch oracle applies
    # verbatim (see the query docstring).
    oracle=BM25_ORACLE,
    tags=(
        "llm", "text", "retrieval", "storage", "incremental",
        "bench:additions_r12",
    ),
)
def s_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL BM25 over a persistent two-table index
    (operators/retrieval.BM25Index — SURVEY E113): the documents
    table arrives as three exact-order-statistic id waves, each wave
    tokenizes O(batch), appends postings (term-bucketed) + doc
    lengths as ONE SnapshotGroup transaction, and accumulates the
    exact corpus integers (N, Σdl) as commit properties; the search
    then answers the SAME three corpus-derived queries as
    ``t_bm25_topk`` reading only the query terms' physical buckets.

    Unlike the ANN rungs, nothing here is approximate: per-document
    term counts are wave-local by construction, df/N/avgdl are exact
    over the union, and the scoring tail is literally shared code
    (``_rank_scored``) — so the incremental result converges EXACTLY
    to the batch answer and the batch oracle applies VERBATIM (the
    d_incremental_neardup device, without even an epsilon)."""
    import math
    import os
    import shutil

    from ..operators.retrieval import BM25Index
    from .roundten import _exact_order_stats

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    if n == 0:
        return spark.createDataFrame(
            [], "query_id long, doc_id long, score double, rn long"
        )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/bm25_incr"
    shutil.rmtree(base, ignore_errors=True)
    idx = BM25Index(spark, base, n_buckets=16)

    n1 = math.ceil(n / 3.0)
    n2 = n1 + math.ceil((n - n1) / 2.0)
    cuts = _exact_order_stats(docs, "doc_id", [n1, n2])
    cut1 = cuts[n1]
    cut2 = cuts.get(n2, cut1)
    for lo, hi, ver in (
        (None, cut1, 1),
        (cut1, cut2, 2),
        (cut2, None, 3),
    ):
        chunk = docs
        if lo is not None:
            chunk = chunk.filter(F.col("doc_id") > lo)
        if hi is not None:
            chunk = chunk.filter(F.col("doc_id") <= hi)
        idx.wave(chunk, ver)
    return idx.topk(_corpus_query_terms(docs), k=10)



ZORDER_ORACLE = """
    WITH b AS (
      SELECT CAST(min(event_id) AS BIGINT) AS mn,
             CAST(max(event_id) AS BIGINT) AS mx
      FROM events
    )
    SELECT 'value_window' AS win,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 2) AS sum_value
    FROM events WHERE value BETWEEN 100 AND 250
    UNION ALL
    SELECT 'id_window' AS win,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 2) AS sum_value
    FROM events, b
    WHERE event_id BETWEEN b.mn AND b.mn + (b.mx - b.mn) // 8
"""


@register(
    "s_snapshot_zorder_skipping",
    oracle=ZORDER_ORACLE,
    tags=("storage", "snapshot", "zorder", "skipping", "bench:additions_r12"),
)
def s_snapshot_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout lifecycle (SURVEY E114,
    ``SnapshotTable.rewrite_zorder`` + ``functions/zorder``): load
    events as four id-ordered appends — the layout where NO
    single-column window prunes (every file spans the full value
    range) — then rewrite in Morton order along (value, event_id) and
    answer a window on EACH column through ``read_where``. The
    multi-dimensional clustering is what makes both windows' file
    prunes selective at once (the OPTIMIZE ZORDER BY capability);
    values must stay exact regardless of layout, which is what the
    oracle pins. The id window derives from the table's own id
    bounds (1-row aggregate — metadata), exact integer arithmetic on
    both engines; prune FILE COUNTS are pinned by the spy tests in
    tests/test_snapshot_zorder.py and measured in SCALE.md round 12.
    NULL values: BETWEEN excludes them identically on both sides."""
    import os
    import shutil

    from ..storage import SnapshotTable

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/zorder_skip"
    shutil.rmtree(base, ignore_errors=True)
    t = SnapshotTable(
        spark, os.path.join(base, "events"),
        key_cols=["event_id"], order_col="__ver", n_buckets=4,
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
            [], "win string, n_rows long, sum_value double"
        )
    span = max(1, (mx - mn + 1) // 4)
    for w in range(4):  # id-ordered slices: the anti-clustered layout
        lo = mn + w * span
        hi = mx if w == 3 else mn + (w + 1) * span - 1
        sl = (F.col("event_id") >= lo) & (F.col("event_id") <= hi)
        if w == 3:
            # TOTAL partition: a NULL event_id fails every range
            # filter — route it to the last slice instead of
            # silently dropping (review r12; the same bug class as
            # the DML lifecycle's NULL-value slice, fixed r12)
            sl = sl | F.col("event_id").isNull()
        t.append(ev.filter(sl).withColumn("__ver", F.lit(w + 1)))
    t.rewrite_zorder(["value", "event_id"], rows_per_file=1024)

    def agg(df, label):
        return df.agg(
            F.lit(label).alias("win"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )

    a = agg(t.read_where("value", 100.0, 250.0), "value_window")
    b = agg(
        t.read_where("event_id", mn, mn + (mx - mn) // 8), "id_window"
    )
    return a.unionByName(b)



MERGE_INTO_ORACLE = """
    WITH base AS (
      SELECT event_id, event_type, value FROM events
    ), s1 AS (
      SELECT event_id, value + 1000 AS s_value
      FROM events WHERE event_id % 3 = 0
    ), m1 AS (
      -- WHEN MATCHED AND s_value > t_value THEN UPDATE SET *
      -- (NULL condition = not fired, SQL semantics)
      SELECT b.event_id, b.event_type,
             CASE WHEN s1.event_id IS NOT NULL
                       AND s1.s_value > b.value
                  THEN s1.s_value ELSE b.value END AS value
      FROM base b LEFT JOIN s1 ON b.event_id = s1.event_id
    ), ins AS (
      -- WHEN NOT MATCHED THEN INSERT *
      SELECT event_id + 1000000000 AS event_id,
             'synthetic' AS event_type,
             CAST(event_id % 7 AS DOUBLE) AS value
      FROM events WHERE event_id % 3 = 0
    ), t1 AS (
      SELECT * FROM m1 UNION ALL SELECT * FROM ins
    ), t2 AS (
      -- second merge: WHEN MATCHED AND t_value >= 500 THEN DELETE
      -- (IS TRUE guards keep NULL ids/values on the survivor side,
      -- mirroring engine semantics)
      SELECT * FROM t1
      WHERE NOT (
        (event_id IN (
           SELECT event_id FROM events WHERE event_id % 5 = 0
        )) IS TRUE
        AND (value >= 500) IS TRUE
      )
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM t2 GROUP BY event_type
"""


@register(
    "s_snapshot_merge_into",
    oracle=MERGE_INTO_ORACLE,
    tags=("storage", "snapshot", "merge", "dml", "bench:additions_r12"),
)
def s_snapshot_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO lifecycle (``SnapshotTable.merge_into``, round 12)
    — the canonical conditional-DML verb exercised end-to-end against
    an exact oracle: bootstrap the events table, then

    1. a conditional UPSERT — ``WHEN MATCHED AND s_value > t_value
       THEN UPDATE SET *`` (only-newer update; a NULL comparison
       leaves the row untouched on both engines) + ``WHEN NOT MATCHED
       THEN INSERT *`` (synthetic high-id rows), one source frame,
       one commit;
    2. a conditional DELETE — ``WHEN MATCHED AND t_value >= 500 THEN
       DELETE`` with inserts ignored (the purge-matched shape).

    Cost discipline is the delete_keys layout prune (only source-key
    buckets read, only fired buckets rewritten — spy-pinned in
    tests/test_merge_into.py); this query pins the composed SEMANTICS
    through the full stack."""
    import os
    import shutil

    from ..storage import SnapshotTable

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/merge_into"
    shutil.rmtree(base, ignore_errors=True)
    t = SnapshotTable(
        spark, os.path.join(base, "events"),
        key_cols=["event_id"], order_col="__ver", n_buckets=8,
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    t.merge(ev.withColumn("__ver", F.lit(1)))

    third = ev.filter(F.col("event_id") % 3 == 0)
    updates = third.select(
        "event_id", "event_type",
        (F.col("value") + 1000).alias("value"),
        F.lit(2).cast("long").alias("__ver"),
    )
    inserts = third.select(
        (F.col("event_id") + 1000000000).alias("event_id"),
        F.lit("synthetic").alias("event_type"),
        (F.col("event_id") % 7).cast("double").alias("value"),
        F.lit(2).cast("long").alias("__ver"),
    )
    t.merge_into(
        updates.unionByName(inserts),
        matched_condition="s_value > t_value",
    )
    t.merge_into(
        ev.filter(F.col("event_id") % 5 == 0)
        .withColumn("__ver", F.lit(3)),
        when_matched="delete",
        matched_condition="t_value >= 500",
        when_not_matched="ignore",
    )
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


