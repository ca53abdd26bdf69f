"""Round-16 STAGED queries — held for a cap ruling (the r15 verdict
froze the registry at 221; precedent is the roundeight→roundfifteen
lifecycle: stage with oracles + bench history + empty-sweep coverage,
register when a verdict rules).

``s_schema_evolution_fieldid`` — field-id schema evolution lifecycle
(VERDICT r15 item 2 / SURVEY E126, ``storage/snapshot.py``
``rename_column``/``drop_column``/``widen_column``): the Iceberg v2
mechanism — stable field ids in StructField metadata, name-lineage
reads, Spark 4 widening parquet reads — so rename/drop/widen are
METADATA-ONLY commits (zero data files rewritten). The lifecycle:
slice A appends an ``int`` score; ``widen_column`` moves it to long
(old int files up-cast per file at read); slice B appends longs plus
a ``flag`` column (additive evolution, fresh field id); the column
renames to ``points``; slice C appends under the NEW name; ``flag``
drops (lineage retired). The query returns the final per-type
aggregate (slice A's int values resolving through widen+rename
lineage), the TIME-TRAVEL aggregate at the post-slice-B snapshot
(read with its own older schema, under the old name), and a contract
row pinning: zero data files rewritten by the three evolution
commits, the reserved-name guard refusing a ``flag`` reuse, and the
dropped column absent from the final schema. Any wrong lineage
resolution, widen miscast, or silently-rewritten file hash-fails.

``t_curation_pipeline`` — the production curation order with the
LEARNED stages composed in (VERDICT r15 item 3 / the CCNet chain):
langid (E110, prediction-agrees-with-label filter) → trained quality
classifier (E124 — fit on the survivors, persisted via
``save_quality_model``, RE-LOADED via ``load_quality_model`` so
scoring is the production serve path) → 8-gram decontamination →
exact dedup → 512-token packing (the t_pretrain_pipeline tail). The
oracle replays the whole composition closed-form: the LANGID_ORACLE
chain, the E124 generated 12-step MATERIALIZED fit chain, and the
pack chain, in one program.

``s_knn_ivfpq`` — the FAISS IVFPQ composition (SURVEY E127,
``IvfIndex(pq=True)``): PQ codes stored with the cell-bucketed
postings, per-subspace codebooks as a third atomically-versioned
group member, ADC candidate pass over probed cells (32-byte codes
instead of 256-byte vectors through the scan AND the candidate
join), exact re-rank of the short list only; served flag-free from
a fresh handle under a recall contract (floor 50; measured
74/70/84).

Staging is the ``staged`` tag: the registry keeps these specs out of
``queries()``/``oracle_sql()`` (so out of the driver contract and the
221 count), while ``registry.staged_specs()`` feeds the tools that
oracle-test, empty-sweep and bench them. Registering one means
deleting its ``staged`` tag here, renaming its ``bench:staged_r16``
tag to the next ``bench:additions_rN`` section (a new section name
also goes into ``bench.SECTIONS``), and moving the count pin in
tests/test_inventory.py. Plan-audit adjudications for that day:
the evolution verbs are driver-side metadata commits (no Spark job);
the evolution contract row is a 1-row local frame (filesystem
metadata by design); the capstone's per-step gradient collects are
D-sized (model, not data — the E124 adjudication), its langid frames
are alphabet-sized crossJoins (the E110 adjudication), and its >6
exchanges are the composed pipeline's load-bearing stages (the
t_pretrain_pipeline adjudication).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from .registry import register
from .roundfifteen import (
    QUALITY_BUCKETS,
    QUALITY_LEX,
    QUALITY_OMEGA,
    QUALITY_RIDGE,
    QUALITY_THRESHOLD,
)

# ------------------------------------------------------------- E126

SCHEMA_EVOLUTION_ORACLE = """
    WITH b AS (
      SELECT CAST(min(event_id) AS BIGINT) AS mn,
             greatest(1, (CAST(max(event_id) AS BIGINT)
                          - CAST(min(event_id) AS BIGINT) + 1) // 3)
               AS span
      FROM events WHERE event_id IS NOT NULL
    ), scored AS (
      SELECT event_id, event_type,
             CAST(floor(value * 10) AS BIGINT) AS points
      FROM events
    ), tt AS (
      -- the post-slice-B state: id slices 1 and 2 (pre-rename,
      -- pre-slice-C — the time-travel read)
      SELECT event_type, points FROM scored, b
      WHERE event_id IS NOT NULL AND event_id < b.mn + 2 * b.span
    )
    SELECT 'final' AS label, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(points) AS BIGINT) AS s
    FROM scored GROUP BY event_type
    UNION ALL
    SELECT 'tt', event_type, CAST(count(*) AS BIGINT),
           CAST(sum(points) AS BIGINT)
    FROM tt GROUP BY event_type
    UNION ALL
    SELECT 'contract', NULL, CAST(0 AS BIGINT), CAST(3 AS BIGINT)
"""


@register(
    "s_schema_evolution_fieldid",
    oracle=SCHEMA_EVOLUTION_ORACLE,
    tags=(
        "storage", "snapshot", "schema", "evolution", "staged",
        "bench:staged_r16",
    ),
)
def s_schema_evolution_fieldid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Field-id schema evolution lifecycle (SURVEY E126) — see the
    module docstring. Plan shape: the three evolution verbs are
    O(1)-metadata driver-side commits (no Spark job, no data file
    touched — pinned by the contract row's path-set compare); the
    final and time-travel aggregates are ordinary snapshot reads
    whose scans request the lineage schema (old files' columns
    resolve by former name / narrower type inside the scan, no extra
    shuffle). At 100 TB a rename costs one manifest write instead of
    a table rewrite."""
    import os
    import shutil

    from ..storage import SnapshotTable

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/schema_evolution"
    shutil.rmtree(base, ignore_errors=True)
    table_dir = os.path.join(base, "events")
    t = SnapshotTable(
        spark, table_dir,
        key_cols=["event_id"], order_col="__ver", n_buckets=8,
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.floor(F.col("value") * 10).cast("int").alias("score"),
    )
    row = ev.agg(
        F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
    ).first()
    mn, mx = row["mn"], row["mx"]
    out_schema = "label string, event_type string, n long, s long"
    if mn is None:
        return spark.createDataFrame([], out_schema)
    span = max(1, (mx - mn + 1) // 3)

    def sl(w):
        lo, hi = mn + w * span, mx if w == 2 else mn + (w + 1) * span - 1
        cond = (F.col("event_id") >= lo) & (F.col("event_id") <= hi)
        if w == 2:
            cond = cond | F.col("event_id").isNull()
        return ev.filter(cond).withColumn("__ver", F.lit(w + 1))

    viol = 0

    def data_paths():
        return sorted(
            f["path"] for f in t._manifest(t.current_id())["files"]
        )

    t.append(sl(0))                                   # slice A: int
    before = data_paths()
    t.widen_column("score", "long")                   # metadata-only
    if data_paths() != before:
        viol += 1
    t.append(                                         # slice B + flag
        sl(1)
        .withColumn("score", F.col("score").cast("long"))
        .withColumn("flag", F.substring("event_type", 1, 1))
    )
    tt_id = t.current_id()                            # pre-rename pin
    before = data_paths()
    t.rename_column("score", "points")                # metadata-only
    if data_paths() != before:
        viol += 1
    t.append(                                         # slice C: new name
        sl(2)
        .withColumnRenamed("score", "points")
        .withColumn("points", F.col("points").cast("long"))
    )
    before = data_paths()
    t.drop_column("flag")                             # metadata-only
    if data_paths() != before:
        viol += 1
    if "flag" in t.read().columns:
        viol += 1
    try:  # the reserved-name guard must refuse reusing the lineage
        # (empty probe batch + properties: additive evolution is
        # computed on empty frames, so the guard fires with zero
        # rows staged — no orphan files per run)
        t.append(
            sl(0)
            .limit(0)
            .withColumnRenamed("score", "points")
            .withColumn("points", F.col("points").cast("long"))
            .withColumn("flag", F.lit("x")),
            properties={"guard": "probe"},
        )
        viol += 1
    except ValueError:
        pass

    fresh = SnapshotTable.load(spark, table_dir)      # durability
    final = (
        fresh.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("points").alias("s"),
        )
        .select(F.lit("final").alias("label"), "event_type", "n", "s")
    )
    tt = (
        fresh.read(snapshot_id=tt_id)                 # old name: score
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("score").alias("s"),
        )
        .select(F.lit("tt").alias("label"), "event_type", "n", "s")
    )
    n_evolve = sum(
        1
        for sid in fresh.snapshot_ids()
        if fresh._raw_meta(sid).get("operation") == "evolve"
    )
    contract = spark.createDataFrame(
        [("contract", None, viol, n_evolve)], out_schema
    )
    return final.unionByName(tt).unionByName(contract)


# --------------------------------------------- curation capstone

CURATION_STEPS = 12  # half the standalone E124 query's 24: the
# capstone pins the COMPOSITION (langid → learned quality → dedup →
# pack in one lineage), not re-proving convergence depth — 12
# majorized-Newton steps already separate the weak-label classes,
# and each step is a sequential Spark action, so the shorter fit
# halves the capstone's scheduling wall with no loss of coverage.


def _curation_oracle() -> str:
    """Closed-form replay of the FULL production curation order
    (CCNet): char-10-gram NB langid (the LANGID_ORACLE chain,
    ``l_``-prefixed) keeps docs whose prediction AGREES with their
    label; the trained quality classifier (the E124 generated chain,
    12 steps here) fits on the survivors and keeps predicted
    positives; then 8-gram decontamination → md5 exact dedup →
    512-token packing (the t_pretrain_pipeline tail). Every CTE is
    MATERIALIZED (the r15 DuckDB inlining gotcha — the step chain is
    referenced multiply and would blow up exponentially inlined)."""
    d = QUALITY_BUCKETS
    om = QUALITY_OMEGA
    lam = QUALITY_RIDGE
    lex = ", ".join(f"'{w}'" for w in QUALITY_LEX)
    parts = [
        r"""
    WITH l_norm AS MATERIALIZED (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ), l_d AS MATERIALIZED (
      SELECT * FROM l_norm WHERE length(t) >= 10
    ), l_grams AS MATERIALIZED (
      SELECT doc_id, lang, substr(t, CAST(i AS INTEGER), 10) AS g
      FROM l_d, unnest(range(1, length(t) - 8)) AS u(i)
    ), l_cnt0 AS MATERIALIZED (
      SELECT lang, g, CAST(count(*) AS BIGINT) AS c
      FROM l_grams GROUP BY lang, g
    ), l_gsel AS MATERIALIZED (
      SELECT g FROM (
        SELECT g, row_number() OVER (ORDER BY sum(c) DESC, g) AS rn
        FROM l_cnt0 GROUP BY g
      ) WHERE rn <= 50000
    ), l_cnt AS MATERIALIZED (
      SELECT * FROM l_cnt0 WHERE g IN (SELECT g FROM l_gsel)
    ), l_tots AS MATERIALIZED (
      SELECT lang, CAST(sum(c) AS BIGINT) AS tot
      FROM l_cnt GROUP BY lang
    ), l_vocab AS MATERIALIZED (
      SELECT CAST(count(DISTINCT g) AS BIGINT) AS v FROM l_cnt
    ), l_prior AS MATERIALIZED (
      SELECT lang, ln(count(*) * 1.0 / (SELECT count(*) FROM l_d))
               AS lp_prior
      FROM l_d GROUP BY lang
    ), l_dg AS MATERIALIZED (
      SELECT doc_id, g, CAST(count(*) AS BIGINT) AS k
      FROM l_grams WHERE g IN (SELECT g FROM l_gsel)
      GROUP BY doc_id, g
    ), l_nd AS MATERIALIZED (
      SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_d
      FROM l_dg GROUP BY doc_id
    ), l_present AS MATERIALIZED (
      SELECT l_dg.doc_id, l_cnt.lang,
             sum(l_dg.k * ln(l_cnt.c + 0.5)) AS ps,
             CAST(sum(l_dg.k) AS BIGINT) AS np
      FROM l_dg JOIN l_cnt USING (g)
      GROUP BY l_dg.doc_id, l_cnt.lang
    ), l_cand AS MATERIALIZED (
      SELECT l_nd.doc_id, k.lang, l_nd.n_d,
             coalesce(p.ps, 0)
               + (l_nd.n_d - coalesce(p.np, 0)) * ln(0.5)
               - l_nd.n_d * ln(k.tot + 0.5 * v.v)
               + pr.lp_prior AS score
      FROM l_nd
      CROSS JOIN l_tots k
      CROSS JOIN l_vocab v
      JOIN l_prior pr ON pr.lang = k.lang
      LEFT JOIN l_present p
        ON p.doc_id = l_nd.doc_id AND p.lang = k.lang
    ), l_ranked AS MATERIALIZED (
      SELECT doc_id, lang AS pred_lang,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY round(score / n_d, 4) DESC, lang
             ) AS rk
      FROM l_cand
    ), lkeep AS MATERIALIZED (
      SELECT d.doc_id FROM l_ranked r JOIN l_d d USING (doc_id)
      WHERE r.rk = 1 AND r.pred_lang = d.lang
    )"""
    ]
    parts.append(
        rf""", toks0 AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\s+') END AS ws
      FROM documents WHERE doc_id IN (SELECT doc_id FROM lkeep)
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
    )
    for t in range(1, CURATION_STEPS):
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
        rf""", zf AS MATERIALIZED (
      SELECT fl.doc_id, sum(fl.x * w{CURATION_STEPS}.w) AS z
      FROM fl JOIN w{CURATION_STEPS} USING (j) GROUP BY fl.doc_id
    ), qkeep AS MATERIALIZED (
      SELECT doc_id FROM zf WHERE round(z, 4) > 0
    ), cq AS MATERIALIZED (
      SELECT d.doc_id, d.text FROM documents d
      WHERE d.doc_id IN (SELECT doc_id FROM qkeep)
    ), toks AS MATERIALIZED (
      SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t
      FROM cq WHERE trim(text) <> ''
    ), sh AS MATERIALIZED (
      SELECT doc_id, text,
             CASE WHEN len(t) >= 8 THEN
               list_distinct(list_transform(range(len(t) - 7),
                             i -> array_to_string(t[i+1:i+8], ' ')))
             ELSE [] END AS shingles,
             CAST(len(t) AS BIGINT) AS n_tok
      FROM toks
    ), ev AS MATERIALIZED (
      SELECT flatten(list(shingles)) AS evs FROM sh WHERE doc_id % 97 = 0
    ), decontaminated AS MATERIALIZED (
      SELECT sh.doc_id, sh.text, sh.n_tok FROM sh, ev
      WHERE sh.doc_id % 97 <> 0 AND NOT list_has_any(sh.shingles, ev.evs)
    ), deduped AS MATERIALIZED (
      SELECT doc_id, n_tok FROM (
        SELECT doc_id, n_tok,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM decontaminated
      ) WHERE rn = 1
    ), packed AS MATERIALIZED (
      SELECT doc_id, doc_id % 8 AS shard, n_tok,
             CAST(coalesce(sum(n_tok) OVER (
                      PARTITION BY doc_id % 8 ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS cum
      FROM deduped
    ), frags AS MATERIALIZED (
      SELECT doc_id, shard, n_tok, cum,
             unnest(generate_series(cum // 512,
                                    (cum + n_tok - 1) // 512)) AS seq_no
      FROM packed
    )
    SELECT shard, seq_no, doc_id,
           greatest(cum, seq_no * 512) - seq_no * 512 AS off_in_seq,
           least(cum + n_tok, (seq_no + 1) * 512)
             - greatest(cum, seq_no * 512) AS frag_len
    FROM frags
    """
    )
    return "".join(parts)


CURATION_PIPELINE_ORACLE = _curation_oracle()


@register(
    "t_curation_pipeline",
    oracle=CURATION_PIPELINE_ORACLE,
    tags=(
        "llm", "pipeline", "langid", "quality", "ml", "staged",
        "bench:staged_r16",
    ),
)
def t_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION curation order (CCNet/C4/LLaMA) end-to-end
    with the LEARNED stages in the chain (VERDICT r15 item 3):
    char-10-gram NB langid (E110) keeps docs whose prediction agrees
    with their label → the trained quality classifier (E124) fits on
    the survivors' weak labels, persists through
    ``save_quality_model``, is RE-LOADED via ``load_quality_model``
    from a fresh handle (the production train/serve split — scoring
    never depends on trainer session state), and keeps predicted
    positives → 8-gram decontamination → md5 exact dedup → 512-token
    packing (the t_pretrain_pipeline tail). The oracle replays
    EVERYTHING closed-form — NB fit+argmax, the full 12-step LR fit,
    scoring, thresholding, and the pack chain — so a wrong gradient,
    langid drift, or packing bug hash-fails end-to-end.

    Plan shape: the langid model and the 1025-float LR model both
    BROADCAST into their scoring joins; the corpus shuffles only at
    its existing grains (doc-gram aggregation, (doc, slot) features,
    dedup fingerprint, packing prefix sum). The 12 sequential
    training actions move a D-sized gradient through the driver —
    at 100 TB the models are still broadcast-sized and the corpus
    never shuffles on token (SCALE.md E110/E124 postures compose
    unchanged)."""
    import os
    import shutil

    from ..operators.langid import fit_langid, score_langid
    from ..operators.quality import (
        hashed_ngram_features,
        lexicon_weak_label,
        load_quality_model,
        save_quality_model,
        score_lr,
        train_quality_lr,
    )
    from .llm import _pretrain_stages, _with_tk

    from ..tables import ensure_parallelism

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/curation"
    shutil.rmtree(base, ignore_errors=True)
    model_dir = os.path.join(base, "quality_model")

    # NOT fanned out (round 17, measured): wrapping this scan (and the
    # kept checkpoint read below) in ensure_parallelism helps the
    # standalone langid/quality queries but is a wash here — the
    # single-task gram stages overlap with the pipeline's concurrent
    # broadcast builds. Interleaved A/B at sf0.1: plain 15.79/16.29 s
    # vs fanned 16.45/16.75 s min-of-3.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    nb = fit_langid(
        docs, "text", "lang", n=10, alpha=0.5, max_features=50000
    )
    pred = score_langid(docs, nb, "text", "doc_id")
    # CHECKPOINT the langid verdict (one parquet write under the
    # run's layout dir): the quality fit is 12 sequential actions
    # and the final pack plan is one more — without the lineage
    # snap, NB scoring would re-execute on every consumer. One
    # langid pass total; everything downstream reads the
    # checkpoint. The same pattern a production pipeline uses
    # between its expensive stages.
    ckpt = os.path.join(base, "langid_kept")
    (
        docs.join(pred, "doc_id")
        .filter(F.col("pred_lang") == F.col("lang"))
        .select("doc_id", "text")
        .write.mode("overwrite")
        .parquet(ckpt)
    )
    kept = spark.read.parquet(ckpt)
    labels = kept.select(
        F.col("doc_id").alias("id"),
        lexicon_weak_label(
            kept, QUALITY_LEX, QUALITY_THRESHOLD
        ).alias("y"),
    )
    feats = hashed_ngram_features(kept, n_buckets=QUALITY_BUCKETS)
    w = train_quality_lr(
        feats,
        labels,
        n_buckets=QUALITY_BUCKETS,
        steps=CURATION_STEPS,
        ridge=QUALITY_RIDGE,
        omega=QUALITY_OMEGA,
    )
    save_quality_model(spark, model_dir, w, version=1)
    served = load_quality_model(spark, model_dir)
    qkeep = (
        score_lr(feats, served)
        .filter(F.round("z", 4) > 0)
        .select(F.col("id").alias("doc_id"))
    )
    corpus = kept.join(qkeep, "doc_id")
    quality = _with_tk(ensure_parallelism(corpus)).filter(
        F.size("tk") >= 1
    )
    return _pretrain_stages(quality)


# ------------------------------------------------------------ E127

# Approximate neighbor lists aren't SQL-reproducible (the candidate
# set depends on the engine-side codebooks), so the query emits the
# recall-contract constants — the s_knn_ivf device: the oracle hash
# fails exactly when recall collapses or the cardinality breaks.
IVFPQ_ORACLE = """
    SELECT CAST(5 AS BIGINT) AS k, CAST(50 AS BIGINT) AS floor_pct,
           CAST(100 AS BIGINT) AS n_true, CAST(1 AS BIGINT) AS meets_floor
"""


@register(
    "s_knn_ivfpq",
    oracle=IVFPQ_ORACLE,
    tags=("llm", "similarity", "storage", "pq", "staged", "bench:staged_r16"),
)
def s_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ lifecycle end-to-end (SURVEY E127 — the FAISS IVFPQ
    production composition, ``IvfIndex(pq=True)``): three waves
    encode per-subspace PQ codes atomically with their postings and
    the codebooks that decode them (a THIRD group member), and a
    FRESH handle — no ctor flag, PQ self-detected from the durable
    books — serves the ADC path: the candidate pass over the probed
    cells reads (nid, codes, norm) — m·4 = 32 bytes of codes
    instead of 4·dim = 256 bytes of vector — scores by per-query
    LUT gathers, and only the top-rerank short list joins back to
    full vectors for the EXACT re-rank. Recall contract at floor 50
    (measured 74/70/84 at sf0.001/0.01/0.1 with m=8, ksub=64,
    nprobe=4, rerank=64 — the worst measurement sits 20 points
    above the floor, the family's fixture-regeneration discipline).

    Plan shape: per-wave cost O(batch) (assign GEMM + encode, both
    map-only Arrow passes); the serving scan is bucket-pruned to
    probed cells AND column-pruned to codes; the (query × candidate)
    join moves 32-byte codes, not 256-byte vectors — the 8× wire
    reduction that dominates ANN serving cost at 100 TB; the exact
    re-rank join moves only rerank·|Q| vectors. The brute-force
    verification is the contract's cost, not the serving path."""
    import math
    import os
    import shutil

    from ..operators.similarity import (
        IvfIndex,
        cosine_topk,
        recall_contract,
    )
    from .roundten import _exact_order_stats

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    if n == 0:
        return spark.createDataFrame(
            [], "k long, floor_pct long, n_true long, meets_floor long"
        )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/ivfpq_e2e"
    shutil.rmtree(base, ignore_errors=True)
    index = IvfIndex(spark, base, n_buckets=8, pq=True)

    vecs = emb.select(
        F.col("vec_id").cast("long").alias("nid"),
        F.col("embedding").alias("vec"),
    )
    qs = [math.ceil(n * i / 3.0) for i in (1, 2)]
    cuts = _exact_order_stats(vecs, "nid", qs)
    c1, c2 = (cuts.get(q) for q in qs)
    bounds = [(None, c1), (c1, c2), (c2, None)]
    for ver, (lo, hi) in enumerate(bounds, start=1):
        chunk = vecs
        if lo is not None:
            chunk = chunk.filter(F.col("nid") > lo)
        if hi is not None:
            chunk = chunk.filter(F.col("nid") <= hi)
        index.wave(chunk, ver, n_cells=16)

    served = IvfIndex(spark, base, n_buckets=8)  # fresh, flag-free
    queries = emb.filter(F.col("vec_id") < 20)
    q = queries.select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("vec"),
    )
    approx = served.topk(q, k=5, nprobe=4, rerank=64)
    exact = cosine_topk(queries, emb, "vec_id", "embedding", k=5)
    return recall_contract(approx, exact, k=5, floor_pct=50)

