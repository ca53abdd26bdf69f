"""Round-15 queries — REGISTERED round 16 per the r15 cap ruling
("REGISTER all three staged round-15 queries ... The cap moves 218 →
221, then the registry is frozen again"). Staged round 15 with
oracles + bench history + empty-sweep coverage per the
roundeight→roundfourteen lifecycle; judge-verified oracle-green at
sf0.001 AND sf0.01 before the ruling.

``t_quality_classifier`` — the in-Spark TRAINED quality classifier
(VERDICT r14 item 5 / SURVEY E124, ``operators/quality.py``): the
fastText-style stage between langid (E110) and dedup (E8) in modern
curation stacks. Weak labels come from a seed lexicon (the CCNet
bootstrap — no hand labels), features are hashed word uni+bigrams
(md5 → 1024 slots, mean-normalized, + bias), and the model is binary
logistic regression fit by 24 full-batch majorized-Newton steps
(quadratic majorization with the Jacobi/Gershgorin bound + ω = 1.8
over-relaxation — provably monotone, deterministic, no RNG). The
DuckDB oracle replays the ENTIRE fit — labels, hashing, the one-time
curvature, all 24 gradient steps, scoring, thresholding — closed
form as a generated chained-CTE program, so the confusion matrix is
hash-pinned end-to-end (the t_langid_confusion exactness class).
Measured accuracy vs the weak labels: 0.942 / 0.948 / 0.838 at
sf0.001 / 0.01 / 0.1 (the fixture corpus draws every doc from ONE
31-token vocabulary, so these are hash-collision-limited; labels
split ~40/60).

``s_snapshot_tag_gc`` — tags + orphan-file GC lifecycle (VERDICT r14
item 3 / SURVEY E123): three id-sliced appends, ``create_tag`` at
the two-slice state, a MOR range delete, ``expire_snapshots`` down
to the head (the tag must keep its snapshot readable), then a
planted AGED fake orphan + a FRESH unreferenced file —
``remove_orphans`` must sweep exactly the aged one. Returns the
tagged-state aggregate (read through a FRESH handle after expire),
the final-state aggregate (read AFTER the sweep, so a wrong prune of
a referenced file breaks the read and hash-fails), and a contract
row pinning sweep exactness.

``s_group_wap_rebuild`` — atomic multi-table write-audit-publish
(VERDICT r14 item 2 / SURVEY E122's group half,
``SnapshotGroup.publish_branches`` via ``IvfIndex.stage_rebuild``):
the index-rebuild pattern the mechanism exists for. Wave the index,
stage a full retrain+reassign on branches of BOTH member tables,
CORRUPT the first attempt (drop half the postings on the branch),
fail its audit and drop — both members must still read at the fork
base (no half-published index); stage again cleanly, audit, publish
atomically, and serve from a FRESH handle under a recall contract.

Activation checklist (mirror of roundfourteen's) — EXECUTED round
16: specs moved into ``@register`` form, roundfifteen imported in
``plans/__init__``, the three queries lead the r16 gate window,
STAGED_R15 → ADDITIONS_R15 in bench.py, staged empty-sweep block
folded into the registry sweep, registry-count pins moved to 221,
plan-audit adjudications recorded (the classifier's per-step
gradient collects are D-sized — model, not data; the tag_gc
contract row is a 1-row local frame — filesystem metadata by
design; the rebuild query's recall re-rank is the contract's
verification cost, not the serving path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import ensure_parallelism, load_table
from .registry import register
from .roundthirteen import _append_id_slices

# ---------------------------------------------------------------- E124

QUALITY_LEX = ("table", "query", "join", "scan", "group")
QUALITY_THRESHOLD = 0.18
QUALITY_BUCKETS = 1024
QUALITY_STEPS = 24
QUALITY_OMEGA = 1.8
QUALITY_RIDGE = 1e-3


def _quality_oracle() -> str:
    """Generate the chained-CTE replay of the full classifier fit:
    one (z, grad, weights) CTE triple per majorized-Newton step. The
    arithmetic mirrors operators/quality.py operation-for-operation
    (same association, same transcendental call sites), so the two
    engines differ only in float-sum order — ulps against the 4dp
    decision grid."""
    d = QUALITY_BUCKETS
    om = QUALITY_OMEGA
    lam = QUALITY_RIDGE
    lex = ", ".join(f"'{w}'" for w in QUALITY_LEX)
    parts = [
        rf"""
    WITH toks0 AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\s+') END AS ws
      FROM documents
    ), lab AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN len(ws) > 0 AND round(
                    len(list_filter(ws, t -> lower(t) IN ({lex})))::DOUBLE
                    / len(ws), 4) >= {QUALITY_THRESHOLD}
                  THEN 1.0 ELSE 0.0 END AS y
      FROM toks0
    ), lw AS MATERIALIZED (
      SELECT doc_id, list_transform(ws, t -> lower(t)) AS ws FROM toks0
    ), gsl AS MATERIALIZED (
      SELECT doc_id, list_concat(ws,
               CASE WHEN len(ws) >= 2
                    THEN list_transform(range(1, len(ws)),
                                        i -> ws[i] || ' ' || ws[i+1])
                    ELSE []::VARCHAR[] END) AS gs
      FROM lw
    ), feat0 AS MATERIALIZED (
      SELECT doc_id, len(gs) AS n_d, unnest(gs) AS g FROM gsl
    ), feats AS MATERIALIZED (
      SELECT doc_id, j, count(*)::DOUBLE / n_d AS x
      FROM (SELECT doc_id, n_d,
              CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % {d} AS j
            FROM feat0)
      GROUP BY doc_id, n_d, j
      UNION ALL
      SELECT doc_id, CAST({d} AS BIGINT) AS j, 1.0 AS x FROM toks0
    ), fl AS MATERIALIZED (
      SELECT f.doc_id, f.j, f.x, l.y
      FROM feats f JOIN lab l USING (doc_id)
    ), sdoc AS MATERIALIZED (
      SELECT doc_id, sum(x) AS s FROM feats GROUP BY doc_id
    ), h AS MATERIALIZED (
      SELECT fl.j, 0.25 * sum(fl.x * sdoc.s) AS h
      FROM fl JOIN sdoc USING (doc_id) GROUP BY fl.j
    ), prior AS MATERIALIZED (
      SELECT ln((sum(y) + 0.5) / (count(*) - sum(y) + 0.5)) AS b0
      FROM lab
    ), g0 AS MATERIALIZED (
      SELECT fl.j,
             sum(fl.x * (fl.y
               - (SELECT 1.0 / (1.0 + exp(-b0)) FROM prior))) AS g
      FROM fl GROUP BY fl.j
    ), w1 AS MATERIALIZED (
      SELECT g0.j,
             (CASE WHEN g0.j = {d} THEN (SELECT b0 FROM prior)
                   ELSE 0.0 END)
             + {om} * g0.g / (h.h + {lam}) AS w
      FROM g0 JOIN h USING (j)
    )"""
    ]
    for t in range(1, QUALITY_STEPS):
        parts.append(
            f""", z{t} AS MATERIALIZED (
      SELECT fl.doc_id, sum(fl.x * w{t}.w) AS z
      FROM fl JOIN w{t} USING (j) GROUP BY fl.doc_id
    ), g{t} AS MATERIALIZED (
      SELECT fl.j,
             sum(fl.x * (fl.y - 1.0 / (1.0 + exp(-z{t}.z)))) AS g
      FROM fl JOIN z{t} USING (doc_id) GROUP BY fl.j
    ), w{t + 1} AS MATERIALIZED (
      SELECT w{t}.j, w{t}.w + {om} * g{t}.g / (h.h + {lam}) AS w
      FROM w{t} JOIN g{t} USING (j) JOIN h USING (j)
    )"""
        )
    parts.append(
        f""", zf AS MATERIALIZED (
      SELECT fl.doc_id, sum(fl.x * w{QUALITY_STEPS}.w) AS z
      FROM fl JOIN w{QUALITY_STEPS} USING (j) GROUP BY fl.doc_id
    )
    SELECT CAST(l.y AS BIGINT) AS label,
           CAST(CASE WHEN round(z.z, 4) > 0 THEN 1 ELSE 0 END
                AS BIGINT) AS pred,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM zf z JOIN lab l USING (doc_id)
    GROUP BY label, pred"""
    )
    return "".join(parts)


QUALITY_CLASSIFIER_ORACLE = _quality_oracle()


@register(
    "t_quality_classifier",
    oracle=QUALITY_CLASSIFIER_ORACLE,
    tags=("llm", "text", "quality", "ml", "bench:additions_r15"),
)
def t_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-Spark trained quality classifier (SURVEY E124,
    ``operators/quality.py``): seed-lexicon weak labels (the CCNet
    bootstrap), hashed uni+bigram features (1024 slots + bias,
    mean-normalized), binary logistic regression fit by 24 full-batch
    majorized-Newton steps (ω = 1.8), scored corpus-wide, emitted as
    the (label, pred) confusion matrix. The oracle replays the whole
    fit closed-form, so a wrong gradient, a broken hash, a diverged
    step, or a thresholding bug all hash-fail.

    Plan shape: feature build is one scan + one shuffle to the
    (doc, slot) grain; the one-time curvature and each step's
    gradient are single grouped aggregates whose output is D-sized
    (the MODEL crosses the driver, never data); scoring is a
    broadcast join of the D-row weight frame. At 100 TB the model is
    still 1025 floats — the corpus never shuffles on anything wider
    than (doc_id, slot)."""
    from ..operators.quality import (
        hashed_ngram_features,
        lexicon_weak_label,
        score_lr,
        train_quality_lr,
    )

    # Fan the single-split documents scan out (round 17, guide §2.5
    # input skew): tokenize + gram-hash otherwise run as ONE task at
    # bench SFs (one 128 MB split); no-op at real scale. Interleaved
    # A/B at sf0.1: 11.30 -> 10.36 s min-of-3.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    labels = docs.select(
        F.col("doc_id").alias("id"),
        lexicon_weak_label(
            docs, QUALITY_LEX, QUALITY_THRESHOLD
        ).alias("y"),
    )
    feats = hashed_ngram_features(docs, n_buckets=QUALITY_BUCKETS)
    w = train_quality_lr(
        feats,
        labels,
        n_buckets=QUALITY_BUCKETS,
        steps=QUALITY_STEPS,
        ridge=QUALITY_RIDGE,
        omega=QUALITY_OMEGA,
    )
    pred = score_lr(feats, w).select(
        "id",
        F.when(F.round("z", 4) > 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pred"),
    )
    return (
        labels.join(pred, "id")
        .groupBy(
            F.col("y").cast("long").alias("label"), "pred"
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------- E123

TAG_GC_ORACLE = """
    WITH b AS (
      SELECT CAST(min(event_id) AS BIGINT) AS mn,
             greatest(1, (CAST(max(event_id) AS BIGINT)
                          - CAST(min(event_id) AS BIGINT) + 1) // 3)
               AS span
      FROM events WHERE event_id IS NOT NULL
    ), tagged AS (
      -- the two-slice state the tag pins: id slices 1 and 2
      SELECT event_type, value FROM events, b
      WHERE event_id IS NOT NULL AND event_id < b.mn + 2 * b.span
    ), final AS (
      SELECT event_type, value FROM events
      WHERE NOT ((value BETWEEN 100 AND 250) IS TRUE)
    )
    SELECT 'tagged' AS label, event_type,
           CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS s
    FROM tagged GROUP BY event_type
    UNION ALL
    SELECT 'final', event_type,
           CAST(count(*) AS BIGINT), round(sum(value), 2)
    FROM final GROUP BY event_type
    UNION ALL
    SELECT 'contract', NULL, CAST(0 AS BIGINT), CAST(1 AS DOUBLE)
"""


@register(
    "s_snapshot_tag_gc",
    oracle=TAG_GC_ORACLE,
    tags=("storage", "snapshot", "tags", "gc", "bench:additions_r15"),
)
def s_snapshot_tag_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot tags + orphan-file GC lifecycle (SURVEY E123,
    ``SnapshotTable.create_tag`` / ``remove_orphans``): three
    id-sliced appends, ``create_tag`` pinning the two-slice state, a
    MOR range delete on top, ``expire_snapshots(keep_last=1)`` (the
    tag must keep its snapshot readable — Iceberg tag semantics),
    then a planted AGED fake orphan plus a FRESH unreferenced file:
    ``remove_orphans`` must sweep exactly the aged one (the
    age-threshold in-flight-writer guard). Returns the tagged-state
    aggregate read through a FRESH handle AFTER expire, the
    final-state aggregate read AFTER the sweep (a wrong prune of a
    referenced data file or dv sidecar breaks this read — the
    hash-fails-on-wrong-prune requirement), and a contract row:
    n = guard violations (0), s = files swept (1.0).

    Plan shape: tags/expire/orphan-sweep are driver-side metadata
    walks (O(snapshots) manifest reads + one directory listing);
    the two aggregates are ordinary pruned snapshot reads. At 100 TB
    the sweep never opens a data file — it compares basenames
    against the manifest-referenced set."""
    import os
    import shutil
    import time

    from ..storage import SnapshotTable

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/tag_gc"
    shutil.rmtree(base, ignore_errors=True)
    table_dir = os.path.join(base, "events")
    t = SnapshotTable(
        spark, table_dir,
        key_cols=["event_id"], order_col="__ver", n_buckets=8,
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    row = ev.agg(
        F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
    ).first()
    mn, mx = row["mn"], row["mx"]
    out_schema = "label string, event_type string, n long, s double"
    if mn is None:
        return spark.createDataFrame([], out_schema)
    # The tag pins the id CURRENT AFTER THE SECOND SLICE (not a
    # positional snapshot_ids()[-2]: on a degenerate id range an
    # empty slice no-ops without a commit — review r15; the oracle's
    # `id < mn + 2·span` matches the after-slice-2 CONTENT either
    # way). The shared helper returns exactly these per-slice ids.
    two_slice_id = _append_id_slices(t, ev, mn, mx)[1]
    t.create_tag("train_v1", snapshot_id=two_slice_id)
    t.delete_where("value BETWEEN 100 AND 250", mode="mor")
    t.expire_snapshots(keep_last=1)

    fresh = SnapshotTable(
        spark, table_dir,
        key_cols=["event_id"], order_col="__ver", n_buckets=8,
    )
    viol = 0
    if fresh.tags().get("train_v1") != two_slice_id:
        viol += 1
    tagged = (
        fresh.read_tag("train_v1")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        )
        .select(F.lit("tagged").alias("label"), "event_type", "n", "s")
    )

    # Plant a crashed-writer leftover (aged past the guard) and an
    # in-flight file (fresh mtime) — the sweep must distinguish them.
    data_dir = os.path.join(table_dir, "data")
    aged = os.path.join(data_dir, "part-orphan-aged.parquet")
    inflight = os.path.join(data_dir, "part-orphan-fresh.parquet")
    for p in (aged, inflight):
        with open(p, "wb") as fh:
            fh.write(b"not a real parquet")
    old = time.time() - 7200.0
    os.utime(aged, (old, old))

    live_before = len(fresh.files())
    removed = fresh.remove_orphans(older_than_seconds=3600.0)
    if removed != ["data/part-orphan-aged.parquet"]:
        viol += 1
    if not os.path.exists(inflight):
        viol += 1
    if len(fresh.files()) != live_before:
        viol += 1
    os.unlink(inflight)  # leave the layout clean for reruns

    final = (
        fresh.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        )
        .select(F.lit("final").alias("label"), "event_type", "n", "s")
    )
    contract = spark.createDataFrame(
        [("contract", None, viol, float(len(removed)))], out_schema
    )
    return tagged.unionByName(final).unionByName(contract)


# ------------------------------------------------------ E122 (group)

# The exact rows are engine-state-dependent only through the recall
# contract (the s_knn_ivf device); the postings row is EXACT — a
# rebuild preserves the indexed vector set bijectively, so both its
# count and its distinct-nid count equal count(embeddings).
GROUP_WAP_ORACLE = """
    WITH e AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
    SELECT 'postings' AS label, n, CAST(n AS DOUBLE) AS s FROM e
    UNION ALL
    SELECT 'contract', CAST(0 AS BIGINT), CAST(0 AS DOUBLE)
    UNION ALL
    SELECT 'recall', CAST(1 AS BIGINT), CAST(60 AS DOUBLE)
"""


@register(
    "s_group_wap_rebuild",
    oracle=GROUP_WAP_ORACLE,
    tags=(
        "storage", "snapshot", "wap", "group", "similarity",
        "bench:additions_r15",
    ),
)
def s_group_wap_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic multi-table write-audit-publish (SURVEY E122's group
    half, ``SnapshotGroup.publish_branches`` through
    ``IvfIndex.stage_rebuild``): the index-rebuild pattern the
    mechanism exists for — a rebuilt postings table must land WITH
    the codebook that assigned it or not at all.

    Lifecycle: two waves index the embeddings; attempt 1 stages a
    rebuild on branches of BOTH members, then CORRUPTS the staged
    postings (a lossy retrain: half the vectors dropped on the
    branch), fails its audit (count preservation + cell-range
    expectations), and drops — the contract pins BOTH members still
    at their fork-base ids (no half-published index, the atomicity
    claim); attempt 2 stages cleanly, passes the audit, and
    publishes atomically; a FRESH handle then serves a recall-
    contracted probe. Returns the exact postings-preservation row
    (count + distinct nids == corpus size), the contract row
    (n = fork-base/atomicity violations, s = live branches left),
    and the recall row (floor 60 — this composition is refresh-last,
    measured 85/83/93 at r13 for the 3-wave variant).

    Plan shape: branch commits are ordinary snapshot commits in a
    namespace probers never scan; the group publish is ONE txn CAS
    over two prepared squash manifests (metadata, never data); the
    retrain is O(table) at maintenance cadence BY DESIGN; the serve
    reads only probed cells' buckets; the exact re-rank is the
    contract's verification cost, not the serving path."""
    import math
    import os
    import shutil

    from ..operators.profile import check_expectations
    from ..operators.similarity import (
        IvfIndex,
        cosine_topk,
        recall_contract,
    )
    from .roundten import _exact_order_stats

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    out_schema = "label string, n long, s double"
    if n == 0:
        return spark.createDataFrame([], out_schema)
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/group_wap_rebuild"
    shutil.rmtree(base, ignore_errors=True)
    index = IvfIndex(spark, base, n_buckets=8)
    vecs = emb.select(
        F.col("vec_id").cast("long").alias("nid"),
        F.col("embedding").alias("vec"),
    )
    mid = _exact_order_stats(vecs, "nid", [math.ceil(n / 2.0)])[
        math.ceil(n / 2.0)
    ]
    index.wave(vecs.filter(F.col("nid") <= mid), 1, n_cells=16)
    index.wave(vecs.filter(F.col("nid") > mid), 2, n_cells=16)
    fork_p = index.postings.current_id()
    fork_c = index.codebook.current_id()
    n_main = index.postings.read().count()

    def audit(branches) -> bool:
        bp = branches["postings"]
        report = check_expectations(
            bp.read(),
            [
                {"name": "cell_lo", "predicate": "cell >= 0"},
                {"name": "cell_hi", "predicate": "cell < 16"},
                {"name": "vec_set", "predicate": "vec IS NOT NULL"},
            ],
        )
        # The expectations report and the count-preservation check are
        # independent actions over the staged branch — run them from
        # driver threads (round 17, guide §2.6) so the count's tasks
        # back-fill the report's tail.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_exp = pool.submit(
                lambda: report.filter("NOT passed").isEmpty()
            )
            f_cnt = pool.submit(lambda: bp.read().count())
            return f_exp.result() and f_cnt.result() == n_main

    viol = 0
    # Attempt 1: stage, corrupt the staged postings, audit, drop.
    br = index.stage_rebuild("rebuild_a")
    br["postings"].delete_where("nid % 2 = 0")
    if audit(br):  # unreachable: the corruption must fail the audit
        viol += 1
        index.publish_rebuild(br)
    else:
        for b in br.values():
            b.drop()
    if index.postings.current_id() != fork_p:
        viol += 1  # half-published or dangling postings commit
    if index.codebook.current_id() != fork_c:
        viol += 1  # codebook moved without its postings

    # Attempt 2: clean rebuild, audited, published atomically.
    br = index.stage_rebuild("rebuild_b")
    if audit(br):
        index.publish_rebuild(br)
    else:  # unreachable on real fixtures
        viol += 1
        for b in br.values():
            b.drop()

    served = IvfIndex(spark, base, n_buckets=8)  # fresh handle
    post = served.postings.read()
    # One aggregation pass instead of a count job plus a
    # distinct+count job (round 17): same two integers.
    prow = post.agg(
        F.count(F.lit(1)).alias("np"),
        F.count_distinct("nid").alias("nn"),
    ).first()
    n_post, n_nids = int(prow["np"]), int(prow["nn"])
    if n_post != n_nids:
        viol += 1  # a rebuild may never duplicate a vector
    left = len(served.postings.branches()) + len(
        served.codebook.branches()
    )

    queries = emb.filter(F.col("vec_id") < 20)
    q = queries.select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("vec"),
    )
    approx = served.topk(q, k=5, nprobe=4)
    exact = cosine_topk(queries, emb, "vec_id", "embedding", k=5)
    rc = recall_contract(approx, exact, k=5, floor_pct=60).first()

    return spark.createDataFrame(
        [
            ("postings", n_post, float(n_nids)),
            ("contract", viol, float(left)),
            ("recall", int(rc["meets_floor"]), float(rc["floor_pct"])),
        ],
        out_schema,
    )


