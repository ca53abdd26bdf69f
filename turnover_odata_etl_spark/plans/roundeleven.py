"""Round-11 queries — REGISTERED in round 12 per the r11 verdict's
cap ruling ("register both staged round-11 queries; cap moves
204 → 206, then frozen again"). Staged through round 11 with oracles
+ bench history + empty-sweep coverage, the roundeight/roundnine/
roundten lifecycle.

``t_langid_confusion`` — the language-identification rung (VERDICT
r10 item 3 / SURVEY E110): char-10-gram multinomial Naive Bayes
(top-50k feature selection) fit
IN-SPARK on the labeled documents corpus and used to classify the same
corpus, emitting the (lang, pred_lang) confusion matrix. This
completes the standard curation sequence CCNet/C4 pipelines run —
langid → quality (E17/E78) → dedup (E8/E105) → decontaminate (E65) →
select (E108) → mix (E73) → pack (E64). The DuckDB oracle recomputes
the ENTIRE model (gram counts, smoothing, priors, argmax) in closed
form — same exactness class as t_unigram_logprob/t_dsir_importance.

``s_snapshot_dml_lifecycle`` — the full DML-verb lifecycle (VERDICT
r10 item 4's "oracle path" criterion, widened to all round-11 verbs):
value-sliced appends for a stats-prunable layout, a numeric RANGE
delete (bounds-parsed, file prune), a STRING-equality delete (since
round 12 pruned by truncation-aware string stats; matched-bucket
rewrite), a COW
``update_where`` (schema-stable cast), a ``delete_keys`` batch
(layout-hash bucket prune), compact + GC, final read == the batch
composition of all four edits. The unit/model tests pin each
mechanism; this pins the composed lifecycle against a DuckDB oracle
through the full stack, the s_snapshot_append_compact pattern.

Activation checklist (mirror of roundten's) — EXECUTED round 12:
1. specs moved into ``@register`` form, roundeleven imported in
   ``plans/__init__``,
2. both queries in the round-12 gate window,
3. bench.py STAGED_R11 → ADDITIONS_R11,
4. empty-sweep staged block removed (registry sweep covers them),
5. plan-audit adjudications: the model join is vocab-sized broadcast;
   the per-language frames are 1-row-per-language crossJoins — same
   class as t_dsir_importance's totals.
At activation, the shared gram pass (VERDICT r11 item 2) was built
as an API (``operators.langid.doc_gram_counts`` + ``grams=`` on fit
and score), measured at sf0.1, and REJECTED for this query: at n=10
the doc-gram frame is token-grain and sharing is 1.3–1.9× slower
than the two-pass form (A/B in the query docstring + BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import ensure_parallelism, load_table
from .registry import register

# Scoring determinism: the argmax compares LENGTH-NORMALIZED scores
# rounded to the 4dp grid with language-ascending tie-break on BOTH
# engines, so cross-engine sum-order ulps can never flip a decision
# (the t_dsir_importance device). Only the argmax crosses engines —
# scores never appear in the output.
LANGID_ORACLE = r"""
    WITH norm AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ), d AS (
      SELECT * FROM norm WHERE length(t) >= 10
    ), grams AS (
      SELECT doc_id, lang, substr(t, CAST(i AS INTEGER), 10) AS g
      FROM d, unnest(range(1, length(t) - 8)) AS u(i)
    ), cnt0 AS (
      SELECT lang, g, CAST(count(*) AS BIGINT) AS c
      FROM grams GROUP BY lang, g
    ), gsel AS (
      -- top-50k feature selection: global count DESC, gram ASC — a
      -- total order, deterministic on both engines
      SELECT g FROM (
        SELECT g, row_number() OVER (ORDER BY sum(c) DESC, g) AS rn
        FROM cnt0 GROUP BY g
      ) WHERE rn <= 50000
    ), cnt AS (
      SELECT * FROM cnt0 WHERE g IN (SELECT g FROM gsel)
    ), tots AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY lang
    ), vocab AS (
      SELECT CAST(count(DISTINCT g) AS BIGINT) AS v FROM cnt
    ), prior AS (
      SELECT lang, ln(count(*) * 1.0 / (SELECT count(*) FROM d))
               AS lp_prior
      FROM d GROUP BY lang
    ), dg AS (
      SELECT doc_id, g, CAST(count(*) AS BIGINT) AS k
      FROM grams WHERE g IN (SELECT g FROM gsel)
      GROUP BY doc_id, g
    ), nd AS (
      -- n_d counts gram tokens in the SELECTED vocabulary; docs with
      -- none are unclassifiable and drop out here
      SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_d FROM dg GROUP BY doc_id
    ), present AS (
      SELECT dg.doc_id, cnt.lang,
             sum(dg.k * ln(cnt.c + 0.5)) AS ps,
             CAST(sum(dg.k) AS BIGINT) AS np
      FROM dg JOIN cnt USING (g)
      GROUP BY dg.doc_id, cnt.lang
    ), cand AS (
      SELECT nd.doc_id, k.lang, nd.n_d,
             coalesce(p.ps, 0)
               + (nd.n_d - coalesce(p.np, 0)) * ln(0.5)
               - nd.n_d * ln(k.tot + 0.5 * v.v)
               + pr.lp_prior AS score
      FROM nd
      CROSS JOIN tots k
      CROSS JOIN vocab v
      JOIN prior pr ON pr.lang = k.lang
      LEFT JOIN present p
        ON p.doc_id = nd.doc_id AND p.lang = k.lang
    ), ranked AS (
      SELECT doc_id, lang AS pred_lang,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY round(score / n_d, 4) DESC, lang
             ) AS rk
      FROM cand
    )
    SELECT d.lang, r.pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM ranked r JOIN d ON d.doc_id = r.doc_id
    WHERE r.rk = 1
    GROUP BY d.lang, r.pred_lang
"""


@register(
    "t_langid_confusion",
    oracle=LANGID_ORACLE,
    tags=("llm", "text", "langid", "bench:additions_r11"),
)
def t_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-10-gram Naive-Bayes language ID (top-50k feature
    selection), fit and applied in one
    Catalyst plan (operators/langid.py): per-language gram counts with
    add-0.5 smoothing over the joint vocabulary, document classified
    to the argmax of the length-normalized log-posterior (4dp grid,
    language-ascending tie-break), output folded to the (true lang ×
    predicted lang) confusion matrix — the monitoring artifact a
    curation pipeline actually keeps.

    Plan shape: TWO independent map-side gram passes — one feeding
    the model aggregation (map-side-combined straight to vocab grain
    — Heaps' law), one feeding the doc-gram frame (measured faster
    than sharing one pass; see below); the model broadcasts into the
    scoring join, so the corpus never shuffles on gram beyond the
    doc-gram aggregation; the per-language totals/priors/vocab frames
    are alphabet-sized crossJoins. At 100 TB: a broadcast-sized
    model, map-side gram explodes, one doc-grain aggregate, one
    5-row-per-doc argmax window.

    Order/size choice: the synthetic fixture's languages share a
    WORD vocabulary and differ in token SEQUENCE statistics, so
    low-order char grams underperform (n=3 scores 58%, measured)
    while n=10 — spanning a word boundary into the next word —
    reaches 96%/93% accuracy at sf0.01/sf0.1; the same per-corpus
    order selection a real deployment runs (langid.py/fastText tune
    their n-gram ranges per training corpus). ``max_features=50000``
    is what makes the broadcast-model claim TRUE at 100 TB: the raw
    n-gram vocabulary grows with the corpus, the selected model is
    K-sized forever.

    Shared-gram-pass decision (activation, VERDICT r11 item 2 —
    MEASURED, then rejected for THIS query): the suggested shared
    :func:`doc_gram_counts` subplan was built (optional ``grams=``
    on both fit and score, equivalence pinned by
    ``test_langid_shared_gram_pass_is_equivalent``) and A/B'd at
    sf0.1 in one warm session: two-pass 6.15 s, shared+persist
    11.7 s, shared+ReusedExchange 8.1 s. At n=10 grams are nearly
    all unique (k≈1), so the shared frame is TOKEN-grain: sharing
    converts the fit's cheap map-side-combined (lang, g) aggregation
    into a write+double-read of a token-grain exchange, strictly
    worse. The second explode is map-side CPU; the fit path never
    exchanges token-grain data at all. Sharing wins only when gram
    multiplicity collapses the doc-gram frame (small n) — the API
    supports it; this query keeps the measured-faster two-pass
    form (numbers in BASELINE.md round 12)."""
    from ..operators.langid import fit_langid, score_langid

    # Fan the single-split documents scan out (round 17, guide §2.5
    # input skew): the char-10-gram explode + aggregation otherwise
    # runs as ONE task per gram pass (the corpus parquet is one
    # 128 MB split at bench SFs); ensure_parallelism is a no-op at
    # real scale. Interleaved A/B at sf0.1: 5.54 -> 5.29 s min-of-3.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    model = fit_langid(
        docs, "text", "lang", n=10, alpha=0.5, max_features=50000
    )
    pred = score_langid(docs, model, "text", "doc_id")
    return (
        pred.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# DELETE/UPDATE semantics in the oracle (ADVICE r11): the engine's
# delete_where removes rows where the predicate IS TRUE — a row where
# it evaluates NULL survives — so the oracle keeps rows where each
# delete predicate IS NOT TRUE (plain NOT(...)/<> would also drop the
# NULL-predicate rows). The UPDATE's CASE already matches engine
# semantics: a NULL `value < 50` falls to ELSE and the row is
# untouched on both sides.
DML_LIFECYCLE_ORACLE = """
    WITH kept AS (
      SELECT event_id, event_type,
             CASE WHEN value < 50 THEN value + 1000
                  ELSE value END AS value2
      FROM events
      WHERE (value BETWEEN 100 AND 250) IS NOT TRUE
        AND (event_type = 'click') IS NOT TRUE
        AND (event_id % 10 = 3) IS NOT TRUE
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value2), 2) AS sum_value
    FROM kept
    GROUP BY event_type
"""


@register(
    "s_snapshot_dml_lifecycle",
    oracle=DML_LIFECYCLE_ORACLE,
    tags=("storage", "snapshot", "delete", "update", "bench:additions_r11"),
)
def s_snapshot_dml_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DML-verb lifecycle through the snapshot stack
    (round 11 — VERDICT r10 item 4's oracle-path exercise, widened to
    every new verb): load the events table as three VALUE-SLICED
    appends (data files carry tight per-column footer stats — the
    layout that makes predicate pruning selective), then run each DML
    shape a user actually issues:

    1. RANGE ``delete_where`` (``value BETWEEN 100 AND 250``): the
       bounds parser extracts [100, 250] and the candidate read skips
       every non-overlapping file;
    2. STRING-equality ``delete_where`` (``event_type = 'click'``):
       string bounds since round 12 — the truncation-aware string
       stats prune the candidate read too (it was an honest full
       candidate read when this staged in round 11; SCALE.md round
       12 measures the 16/16 → 8/24-shape improvement), and only
       matched buckets rewrite;
    3. ``update_where`` (``value < 50`` → ``value + 1000``): COW
       update, schema-stable cast, stats-pruned like the range delete;
    4. ``delete_keys`` (every ``event_id % 10 = 3`` as a keys FRAME):
       the GDPR batch-deletion primitive — layout-hash bucket prune,
       null-safe key match;

    then ``compact()`` + ``expire_snapshots`` reclaim the
    copy-on-write debris and the final read must equal the plain batch
    composition of all four edits.

    Scale: each verb reads only its pruned candidates and rewrites
    only matched buckets; compaction and GC are the explicitly
    maintenance-bounded ops. Cost is protocol + touched data, never
    O(table × edits)."""
    import os
    import shutil

    from ..storage import SnapshotTable

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/dml_lifecycle"
    shutil.rmtree(base, ignore_errors=True)
    t = SnapshotTable(
        spark, os.path.join(base, "events"),
        key_cols=["event_id"], order_col="__ver", n_buckets=8,
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    # a TOTAL partition of the input: NULL value falls through both
    # WHENs into slice 3 (range filters would silently drop it and
    # diverge from the oracle, which keeps NULL-predicate rows)
    slice_id = (
        F.when(F.col("value") < 100.0, 1)
        .when(F.col("value") < 250.0, 2)
        .otherwise(3)
    )
    for w in (1, 2, 3):
        t.append(
            ev.filter(slice_id == F.lit(w)).withColumn("__ver", F.lit(w))
        )
    t.delete_where("value BETWEEN 100 AND 250")
    t.delete_where("event_type = 'click'")
    t.update_where("value < 50", {"value": "value + 1000"})
    t.delete_keys(ev.filter("event_id % 10 = 3").select("event_id"))
    t.compact()
    t.expire_snapshots(keep_last=1)
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
