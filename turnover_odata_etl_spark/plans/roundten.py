"""Round-10 queries — REGISTERED in round 11 per the r10 verdict's cap
ruling ("register all three; the cap moves to 204 and freezes there").
Staged through round 10 with oracles + bench history + empty-sweep
coverage, exactly the roundeight/roundnine lifecycle.

Three queries, each the only end-to-end oracle exercise of a real
capability added in round 10:

``s_snapshot_append_compact`` — the APPEND fast path + bin-pack
compaction lifecycle (``SnapshotTable.append``/``compact``, round 10):
insert-only waves, an at-least-once REPLAY of one wave (duplicate
rows by design), ``compact(dedup_keys=True)`` folding the replay,
``expire_snapshots`` reclaiming the replaced small files, and a final
aggregate read that must equal the plain batch answer. The unit tests
pin each mechanism; this pins the composed lifecycle against a DuckDB
oracle through the full stack.

``t_dsir_importance`` — DSIR-style importance reweighting (Xie et al.
2023, arXiv:2302.03169, "Data Selection for Language Models via
Importance Resampling"): fit unigram models of a TARGET distribution
(here: the ``lang='en'`` slice) and the RAW pool (the rest), score
every raw document by its length-normalized importance log-ratio
Σ count(w)·[ln p̂_tgt(w) − ln p̂_raw(w)] / n_tok with add-α smoothing
over the shared vocabulary, and select the top-k — the
domain-adaptation data-selection step of published pretraining
pipelines, next to quality filtering (E17/E78) and mixing (E73).

``d_semdedup_incremental`` — the E105×E106 cross: incremental
semantic dedup against a persistent cell-bucketed representatives
index (frozen wave-1 codebook, bucket-pruned reps reads, append-path
keeps; same invariant-contract oracle machinery as
``d_semdedup_kmeans``).

The round-11 activation also executed the verdict's at-activation fix:
``d_semdedup_incremental``'s wave splitter no longer collects every
embedding id to the driver — the two tile cuts are exact order
statistics computed distributed (``_exact_order_stats``: range
shuffle + per-partition rank + broadcast offsets, 2-row collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..tables import load_table
from .registry import register

APPEND_COMPACT_ORACLE = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value,
           CAST(1 AS BIGINT) AS max_files_per_bucket
    FROM events
    GROUP BY event_type
"""


@register(
    "s_snapshot_append_compact",
    oracle=APPEND_COMPACT_ORACLE,
    tags=("storage", "snapshot", "append", "compact", "bench:additions_r10"),
)
def s_snapshot_append_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND → replay → dedup-COMPACT → GC lifecycle
    (``SnapshotTable.append``/``compact``, round 10) — the insert-only
    ingest pattern a fact/log table runs: four id-sliced waves append
    (O(batch) each, no base read-back), wave 2 REPLAYS verbatim
    (at-least-once delivery: duplicate rows land, by contract), then
    ``compact(dedup_keys=True)`` folds the table to keep-latest form
    one file per bucket and ``expire_snapshots`` reclaims every
    superseded small file. The final read must equal the plain batch
    aggregate — duplicates folded, nothing lost — and the emitted
    ``max_files_per_bucket`` constant (driver-side metadata from the
    per-bucket manifest view, not a data-path join) is 1 iff the
    bin-pack actually ran.

    Scale: each append is one staged write of its own wave; compaction
    reads only qualifying buckets and carries the rest by reference;
    GC is the explicitly retention-bounded op. The lifecycle cost is
    protocol, not data — the same adjudication as st_snapshot_ivm's
    per-trigger commits."""
    import os
    import shutil

    from ..storage import SnapshotTable

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/append_compact"
    shutil.rmtree(base, ignore_errors=True)
    t = SnapshotTable(
        spark, os.path.join(base, "events"),
        key_cols=["event_id"], order_col="__ver", n_buckets=8,
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    for w in (1, 2, 3, 4):
        t.append(
            ev.filter(F.col("event_id") % 4 == w - 1).withColumn(
                "__ver", F.lit(w)
            )
        )
    # At-least-once replay of wave 2: the SAME rows appended again —
    # merge-on-read contract says they land as duplicates ...
    t.append(
        ev.filter(F.col("event_id") % 4 == 1).withColumn("__ver", F.lit(2))
    )
    # ... and dedup compaction is the explicit fold (keys equal, rows
    # identical, so keep-latest keeps exactly the original row).
    t.compact(dedup_keys=True)
    t.expire_snapshots(keep_last=1)
    cur = t.current_id()
    max_files = max(
        (len(fs) for fs in t._by_bucket(cur).values()), default=0
    ) if cur is not None else 0
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .withColumn(
            "max_files_per_bucket", F.lit(int(max_files)).cast("long")
        )
    )


# Importance weights are continuous (sums of ln-ratios, never on a
# decimal grid), so the 4dp rounding is boundary-safe for VALUES; the
# top-k ORDER uses the rounded score + doc_id tie-break so cross-engine
# sum-order ulps can never reorder the selection (same determinism
# device as t_weighted_sample_es' hash draw).
DSIR_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents WHERE trim(text) <> ''
    ), cnt AS (
      SELECT tok,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS ct,
             CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS cr
      FROM toks GROUP BY tok
    ), tot AS (
      SELECT CAST(sum(ct) AS BIGINT) AS tt,
             CAST(sum(cr) AS BIGINT) AS tr,
             CAST(count(*) AS BIGINT) AS v
      FROM cnt
    ), lam AS (
      SELECT tok,
             ln((ct + 0.5) / (tt + 0.5 * v))
               - ln((cr + 0.5) / (tr + 0.5 * v)) AS lam
      FROM cnt CROSS JOIN tot
    ), scored AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_tok,
             round(sum(lam) / count(*), 4) AS dsir_score
      FROM toks t JOIN lam USING (tok)
      WHERE t.lang <> 'en'
      GROUP BY t.doc_id
    ), ranked AS (
      SELECT doc_id, n_tok, dsir_score,
             row_number() OVER (ORDER BY dsir_score DESC, doc_id)
               AS sel_rank
      FROM scored
    )
    SELECT doc_id, n_tok, dsir_score, CAST(sel_rank AS BIGINT) AS sel_rank
    FROM ranked WHERE sel_rank <= 50
"""


@register(
    "t_dsir_importance",
    oracle=DSIR_ORACLE,
    tags=("llm", "sampling", "importance", "bench:additions_r10"),
)
def t_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection (Xie et al. 2023): score every RAW
    document by how much more likely its tokens are under the TARGET
    unigram model than the raw one — the cheap, provably-calibrated
    stand-in for training a classifier when you want 'more data that
    looks like X'. Target here is the ``lang='en'`` slice; the raw
    pool is everything else; add-0.5 smoothing over the shared
    vocabulary keeps unseen tokens finite on both sides. Emits the
    top-50 raw docs by length-normalized score (rounded to the 4dp
    grid BEFORE ranking, doc_id tie-break — cross-engine determinism).

    Plan shape: ONE corpus tokenize/explode feeds both model fits as a
    single conditional aggregation (vocab-sized output — Heaps' law,
    sublinear in corpus); the λ log-ratio table broadcasts into the
    scoring join, so the corpus never shuffles on token; the top-50 is
    a distributed TakeOrdered (sort+limit — no global single-partition
    window), re-ranked post-limit on 50 rows. At 100 TB: two
    broadcast-sized models, one map-side explode, one doc-grain
    aggregate, one top-k."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn("tk", TXT.tokens(F.col("text")))
        .filter(F.size("tk") >= 1)
    )
    toks = docs.select("doc_id", "lang", F.explode("tk").alias("tok"))
    is_tgt = (F.col("lang") == "en").cast("long")
    cnt = toks.groupBy("tok").agg(
        F.sum(is_tgt).alias("ct"),
        F.sum(1 - is_tgt).alias("cr"),
    )
    tot = cnt.agg(
        F.sum("ct").cast("long").alias("tt"),
        F.sum("cr").cast("long").alias("tr"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    lam = cnt.join(F.broadcast(tot)).select(
        "tok",
        (
            F.log((F.col("ct") + 0.5) / (F.col("tt") + 0.5 * F.col("v")))
            - F.log((F.col("cr") + 0.5) / (F.col("tr") + 0.5 * F.col("v")))
        ).alias("lam"),
    )
    scored = (
        toks.filter(F.col("lang") != "en")
        .join(F.broadcast(lam), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.round(
                F.sum("lam") / F.count(F.lit(1)), 4
            ).alias("dsir_score"),
        )
    )
    top = scored.orderBy(
        F.desc("dsir_score"), F.asc("doc_id")
    ).limit(50)
    return top.select(
        "doc_id",
        "n_tok",
        "dsir_score",
        F.row_number()
        .over(Window.orderBy(F.desc("dsir_score"), F.asc("doc_id")))
        .cast("long")
        .alias("sel_rank"),
    )


def _exact_order_stats(df: DataFrame, col: str, ks: list[int]) -> dict:
    """Exact k-th-smallest values of ``col`` computed DISTRIBUTED (the
    r10 verdict's activation fix — no O(n) driver collect): range-
    shuffle the single column so partition i holds smaller values than
    partition i+1, rank within each partition, add the broadcast
    cumulative per-partition counts to get global ranks, and collect
    only the ``len(ks)`` requested rows. Two scans of one column, every
    step partition-parallel; the only windows run per range-partition
    (32-way) and over the 32-row partition-size frame."""
    from pyspark import StorageLevel

    ids = (
        df.select(col)
        .repartitionByRange(32, col)
        .withColumn("pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)  # pin the range split
    )
    try:
        ranked = ids.withColumn(
            "rn", F.row_number().over(Window.partitionBy("pid").orderBy(col))
        )
        offs = (
            ids.groupBy("pid")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                "pid",
                F.coalesce(
                    F.sum("cnt").over(
                        Window.orderBy("pid").rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                ).alias("off"),
            )
        )
        rows = (
            ranked.join(F.broadcast(offs), "pid")
            .withColumn("grn", F.col("rn") + F.col("off"))
            .filter(F.col("grn").isin([int(k) for k in ks]))
            .select("grn", col)
            .collect()
        )
    finally:
        ids.unpersist()
    return {int(r["grn"]): r[col] for r in rows}


def semdedup_wave(
    reps, chunk: DataFrame, cents, threshold: float, ver: int
) -> DataFrame:
    """ONE wave of INCREMENTAL semantic dedup: assign the arrivals to
    the FROZEN wave-1 centroids (map-only GEMM —
    ``similarity.assign_to_centroids``), run the greedy epsilon-ball
    sweep per cell against the PERSISTED kept representatives (read
    bucket-pruned to the wave's cells via ``read_matching`` on the
    cell-bucketed reps table), then APPEND the wave's new keeps to the
    index. Returns the wave's ``(nid, cell, keep)`` flags.

    Because waves arrive in ascending-id order (the query slices by
    ntile) and the within-wave sweep is ascending-id, the union of
    waves satisfies EXACTLY the batch greedy invariants for this
    assignment: kept clustermates pairwise ≤ t, every dropped doc has
    an earlier kept clustermate > t — which is what the contract
    oracle verifies. Per-wave cost: O(batch) assignment + greedy work
    O(Σ |wave ∩ cell| · |kept reps in cell|) — the index is READ only
    in the wave's own cells and WRITTEN via the O(batch) append path,
    never rewritten or exchanged."""
    from pyspark import StorageLevel

    from ..operators.similarity import assign_to_centroids
    from ..tables import ensure_parallelism

    thr = float(threshold)
    assigned = assign_to_centroids(
        ensure_parallelism(chunk), cents
    ).persist(StorageLevel.MEMORY_AND_DISK)
    new_tagged = assigned.select(
        "nid", "vec", "cell", F.lit(True).alias("is_new")
    )
    if reps.current_id():
        old_reps = (
            reps.read_matching(assigned.select("cell"))
            .select(
                "nid", "vec", "cell", F.lit(False).alias("is_new")
            )
        )
        both = new_tagged.unionByName(old_reps)
    else:
        both = new_tagged

    def greedy(pdf):
        import numpy as _np
        import pandas as _pd

        pdf = pdf.sort_values("nid").reset_index(drop=True)
        V = _np.array(pdf["vec"].tolist(), dtype=_np.float64)
        norms = _np.linalg.norm(V, axis=1)
        Vn = V / _np.where(norms == 0.0, 1.0, norms)[:, None]
        kept: list[int] = []
        out_keep = []
        for i in range(len(pdf)):
            if not pdf["is_new"][i]:
                kept.append(i)  # persisted rep: kept by definition
                out_keep.append(True)
                continue
            dup = bool(kept) and bool(
                (Vn[kept] @ Vn[i] > thr).any()
            )
            if not dup:
                kept.append(i)
            out_keep.append(not dup)
        return _pd.DataFrame(
            {
                "nid": pdf["nid"],
                "cell": pdf["cell"],
                "keep": out_keep,
                "is_new": pdf["is_new"],
            }
        )

    flags = (
        both.groupBy("cell")
        .applyInPandas(
            greedy, "nid long, cell long, keep boolean, is_new boolean"
        )
        .filter("is_new")
        .drop("is_new")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # No explicit force (round 17): keeps filters the PERSISTED flags
    # frame, so the append's staged-write job computes and caches
    # every flags partition BEFORE the commit claim — the flags-
    # durable-in-session-before-the-checkpoint contract holds with
    # one fewer full greedy-sweep job per wave.
    keeps = (
        flags.filter("keep")
        .select("nid", "cell")
        .join(assigned.select("nid", "vec"), "nid")
        .select(
            "nid", "cell", "vec", F.lit(ver).cast("long").alias("__ver")
        )
    )
    reps.append(keeps)
    assigned.unpersist()
    return flags


SEMDEDUP_INCREMENTAL_ORACLE = """
    WITH w1 AS (
      SELECT CAST(ceil(count(*) / 3.0) AS BIGINT) AS n1,
             CAST(count(*) AS BIGINT) AS n
      FROM embeddings
    )
    SELECT n AS n_docs,
           CAST(greatest(1, floor(sqrt(n1))) AS BIGINT) AS n_clusters,
           CAST(45 AS BIGINT) AS threshold_pct,
           CAST(1 AS BIGINT) AS invariants_ok
    FROM w1
"""


@register(
    "d_semdedup_incremental",
    oracle=SEMDEDUP_INCREMENTAL_ORACLE,
    tags=("llm", "dedup", "semantic", "incremental", "bench:additions_r10"),
)
def d_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL semantic dedup — SemDeDup's production arrival
    pattern (the E105×E106 cross): embedding batches arrive in waves,
    each wave assigns to the FROZEN wave-1 k-means codebook, greedy-
    dedups against a PERSISTENT cell-bucketed index of kept
    representatives, and appends its new keeps — the corpus is never
    recomputed, re-read outside the wave's own cells, or rewritten
    (the reps table takes the append fast path).

    Waves are the three ntile(vec_id) ranges, so global arrival order
    equals id order and the union of waves satisfies exactly the batch
    greedy invariants for the (frozen-codebook) assignment — verified
    distributed by the same invariant-contract machinery as
    ``d_semdedup_kmeans``: over-threshold candidate pairs from the
    independently-pinned GEMM tiles, kept-pair and dropped-witness
    checks crossing engines only outside the ±1e-3 ulp band. The
    centroid codebook is metadata-sized (k·dim floats) and frozen at
    wave 1 — the documented SemDeDup-at-scale deployment shape (fit
    once on a sample, stream the corpus through)."""
    import math
    import os
    import shutil

    from ..operators.similarity import cosine_neardup_pairs, kmeans_assign
    from ..storage import SnapshotTable

    thr, band = 0.45, 1e-3
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    if n == 0:
        return spark.createDataFrame(
            [],
            "n_docs long, n_clusters long, threshold_pct long, "
            "invariants_ok long",
        )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/semdedup_incr"
    shutil.rmtree(base, ignore_errors=True)
    reps = SnapshotTable(
        spark, os.path.join(base, "reps"),
        key_cols=["cell", "nid"], order_col="__ver", n_buckets=8,
        bucket_cols=["cell"],
    )

    vecs = emb.select(
        F.col("vec_id").cast("long").alias("nid"),
        F.col("embedding").alias("vec"),
    )
    # ntile(3) boundaries computed exactly: first tile gets the
    # remainder rows, matching SQL ntile semantics. The cut ids are
    # exact order statistics computed distributed (no O(n) driver
    # collect — the wave split is fixture harness; production waves
    # ARE arrival batches, but the splitter must still scale).
    n1 = math.ceil(n / 3.0)
    n2 = n1 + math.ceil((n - n1) / 2.0)
    cuts = _exact_order_stats(vecs, "nid", [n1, n2])
    cut1 = cuts[n1]
    cut2 = cuts.get(n2, cut1)

    w1 = vecs.filter(F.col("nid") <= cut1)
    k_cells = max(1, math.isqrt(n1))
    assigned1, cents = kmeans_assign(w1, k_cells)
    flag_frames = []
    # wave 1 goes through the same wave function with the fitted
    # codebook (assign_to_centroids(cents) reproduces assigned1's
    # final assignment — kmeans_assign's own last step).
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
        flag_frames.append(
            semdedup_wave(reps, chunk, cents, thr, ver)
        )
    flags = flag_frames[0]
    for fr in flag_frames[1:]:
        flags = flags.unionByName(fr)

    pairs = cosine_neardup_pairs(
        emb, "vec_id", "embedding", threshold=thr - band
    )
    fa = flags.select(
        F.col("nid").alias("a_id"),
        F.col("cell").alias("a_c"),
        F.col("keep").alias("a_keep"),
    )
    fb = flags.select(
        F.col("nid").alias("b_id"),
        F.col("cell").alias("b_c"),
        F.col("keep").alias("b_keep"),
    )
    scored = (
        pairs.join(fa, "a_id")
        .join(fb, "b_id")
        .filter(F.col("a_c") == F.col("b_c"))
    )
    viol_a = scored.filter(
        F.col("a_keep") & F.col("b_keep") & (F.col("cos") > thr + band)
    ).agg(F.count(F.lit(1)).alias("va"))
    witnesses = scored.filter(
        F.col("a_keep") & ~F.col("b_keep")
    ).select(F.col("b_id").alias("nid"))
    viol_b = (
        flags.filter(~F.col("keep"))
        .join(witnesses, "nid", "left_anti")
        .agg(F.count(F.lit(1)).alias("vb"))
    )
    conserved = flags.agg(F.count(F.lit(1)).alias("n_flags"))
    # The contract row is 1×4 — materialize it EAGERLY so the three
    # per-wave flag caches can be released here (cache discipline,
    # ADVICE r09 pattern) instead of pinning for the caller's session.
    row = (
        viol_a.crossJoin(viol_b).crossJoin(conserved).collect()[0]
    )
    for fr in flag_frames:
        fr.unpersist()
    ok = (
        row["va"] == 0 and row["vb"] == 0 and row["n_flags"] == n
    )
    return spark.createDataFrame(
        [(n, k_cells, 45, 1 if ok else 0)],
        "n_docs long, n_clusters long, threshold_pct long, "
        "invariants_ok long",
    )
