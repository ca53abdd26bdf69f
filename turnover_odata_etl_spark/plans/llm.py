"""LLM-data-pipeline queries (SURVEY §2.12 E8–E11) — M4.

Text analysis, the dedup ladder, similarity search, and multimodal
plumbing over the ``documents``/``embeddings`` fixtures. Oracle notes:
regex semantics are kept to the Java∩RE2 common subset so Spark and
DuckDB agree; sketch/LSH internals are deterministic (hash-seeded, no
RNG) and verified either exactly (LSH+exact-verify == brute force
w.h.p.) or by rows-only + bound-asserting unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..functions.multimodal import (
    extract_binary_features,
    sample_frames,
    with_binary_payload,
)
from ..operators.dedup import (
    fingerprint_dedup,
    near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
    simhash_signatures,
)
from ..operators.cluster import connected_components
from ..operators.skew import salted_agg
from ..operators.similarity import (
    cosine_neardup_pairs,
    cosine_topk,
    cosine_topk_blocked,
    cosine_topk_tiled,
    ivf_topk,
    recall_contract,
    srp_lsh_topk,
)
from ..tables import ensure_parallelism, load_table
from .registry import register

# Shared oracle CTE: recompute the engine's 64-bit SimHash signatures
# in pure SQL. Mirrors operators/dedup.simhash_signatures exactly —
# whitespace tokens → distinct 3-word shingles (whole text if < 3
# tokens; Spark's empty-text → [] → [''] fallback coincides with
# DuckDB's split('') = []), md5 low 8 bytes big-endian unsigned per
# shingle, ±1 accumulation per bit, sign threshold (> 0). `uh` is the
# unsigned 64-bit signature as HUGEINT.
_SIMHASH_SIG_SQL = r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN
               list_distinct(list_transform(range(len(t) - 2),
                             i -> array_to_string(t[i+1:i+3], ' ')))
             ELSE [array_to_string(t, ' ')] END AS shingles
      FROM toks
    ), ex AS (
      SELECT doc_id,
             ('0x' || substr(md5(unnest(shingles)), 1, 16))::UBIGINT AS h
      FROM sh
    ), acc AS (
      SELECT doc_id, bit,
             sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS a
      FROM ex CROSS JOIN range(64) r(bit)
      GROUP BY doc_id, bit
    ), u AS (
      SELECT doc_id,
             coalesce(sum(CASE WHEN a > 0 THEN 1::HUGEINT << bit END),
                      0::HUGEINT) AS uh
      FROM acc GROUP BY doc_id
    )
"""

# ---------------------------------------------------------------------------
# E10 — text statistics
# ---------------------------------------------------------------------------


@register(
    "t_text_stats",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars_measured,
             CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                                          x -> length(x))) AS BIGINT) AS tot
      FROM documents
    )
    SELECT doc_id, n_tokens, n_chars_measured,
           CAST((200 * tot + n_tokens) // (2 * n_tokens) AS BIGINT)
             AS avg_token_len_x100
    FROM t
    """,
    tags=("llm", "text"),
)
def t_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char counting — whitespace tokenization as built-in
    expressions; the whole query is scan + project (no shuffle).

    avg token length is emitted in integer centi-units via exact
    integer arithmetic ((200·total + n) div 2n == round-half-up at 2
    dp): float `round` at a .xx5 boundary diverges between engines
    (Java rounds the shortest decimal repr, DuckDB the binary value),
    so cross-engine-checked ratios avoid float rounding entirely."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TXT.tokens("text")
    tot = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_tok = TXT.token_count("text")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        TXT.char_count("text").alias("n_chars_measured"),
        ((F.lit(200) * tot + n_tok) / (F.lit(2) * n_tok))
        .cast("long")
        .alias("avg_token_len_x100"),
    )


@register(
    "t_lang_quality",
    oracle=r"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|for)\b')) AS BIGINT) AS sw_en,
             CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|por)\b')) AS BIGINT) AS sw_es,
             CAST(len(regexp_extract_all(lower(text), '\b(le|la|de|et|les|des|un|une)\b')) AS BIGINT) AS sw_fr,
             CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|von|mit|ein|zu)\b')) AS BIGINT) AS sw_de,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
             CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct
      FROM documents
    )
    SELECT doc_id,
           CASE
             WHEN greatest(sw_en, sw_es, sw_fr, sw_de) = 0 THEN 'und'
             WHEN sw_en = greatest(sw_en, sw_es, sw_fr, sw_de) THEN 'en'
             WHEN sw_es = greatest(sw_en, sw_es, sw_fr, sw_de) THEN 'es'
             WHEN sw_fr = greatest(sw_en, sw_es, sw_fr, sw_de) THEN 'fr'
             ELSE 'de'
           END AS lang_guess,
           round(least(
             (CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 0.5 ELSE 0.0 END)
             + least(2.0 * sw_en / n_tok, 0.3)
             + (CASE WHEN n_punct::DOUBLE / n_tok <= 0.2 THEN 0.2 ELSE 0.0 END),
             1.0), 4) AS quality
    FROM scored
    """,
    tags=("llm", "text"),
)
def t_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-inventory language heuristic + composite quality score
    (length band, stopword ratio, punctuation excess). Deterministic,
    SQL-mirrorable; one scan, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TXT.lang_id("text").alias("lang_guess"),
        TXT.quality_score("text").alias("quality"),
    )


@register(
    "t_tfidf_topterms",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term
    ), n AS (SELECT count(*)::DOUBLE AS n FROM documents)
    SELECT doc_id, term, round(score, 4) AS score, CAST(rn AS BIGINT) AS rn FROM (
      SELECT tf.doc_id, tf.term,
             tf.tf * (ln((n.n + 1) / (df.df + 1)) + 1) AS score,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * (ln((n.n + 1) / (df.df + 1)) + 1) DESC, tf.term
             ) AS rn
      FROM tf JOIN df USING (term) CROSS JOIN n
    ) WHERE rn <= 3
    """,
    tags=("llm", "text", "bench:headline"),
)
def t_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document, built from explode + two
    aggregations (no ML pipeline, no hashing trick — exact and
    oracle-checkable). The document-frequency table is tiny
    (vocabulary-sized) → broadcast back; the big shuffle is the
    (doc, term) tf aggregation, partial-aggregated."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(TXT.tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.count()
    scored = tf.join(F.broadcast(df), "term").withColumn(
        "score", F.col("tf") * (F.log((F.lit(n) + 1) / (F.col("df") + 1)) + 1)
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id",
            "term",
            F.round("score", 4).alias("score"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


# ---------------------------------------------------------------------------
# E8 — dedup ladder
# ---------------------------------------------------------------------------


@register(
    "d_fingerprint_dedup",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                     '\s+', ' ', 'g'))) AS fingerprint
      FROM documents
    )
    SELECT doc_id, fingerprint,
           row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1 AS keep
    FROM fp
    """,
    tags=("llm", "dedup"),
)
def d_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text fingerprint dedup (tier 2 of the ladder):
    md5(lowercase, punctuation stripped, whitespace collapsed), first
    doc_id per fingerprint kept."""
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint_dedup(docs, "text", "doc_id").select(
        "doc_id", "fingerprint", "keep"
    )


@register(
    "d_minhash_lsh_neardup",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 3
                  THEN list_distinct(list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                  -- mirror the Spark shingler: sub-k-token docs get one
                  -- whole-text shingle (whitespace-normalized)
                  ELSE [array_to_string(ws, ' ')]
             END AS s
      FROM toks
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round(len(list_intersect(a.s, b.s))::DOUBLE /
                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jac
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s))::DOUBLE /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
    """,
    tags=("llm", "dedup", "bench:headline"),
)
def d_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64)+LSH(32 bands × 2) near-dup pairs at Jaccard ≥ 0.6,
    exact-verified (operators/dedup.near_dup_pairs). The oracle is the
    O(n²) brute force — the LSH result equals it w.h.p. because
    candidate-miss probability at s ≥ 0.6 is (1−0.6²)^32 ≈ 6e-7 per
    true pair (the band count is sized so that even ~10³ true pairs
    per fixture keep the any-miss probability under 1e-3, which is
    what the driver's exact hash check demands) and the verify
    step removes every false positive. At 100 TB the brute force is
    impossible and THIS plan (sub-quadratic, skew-free band keys) is
    the point."""
    docs = load_table(spark, sf_dir, "documents")
    return near_dup_pairs(docs, "text", "doc_id", threshold=0.6)


@register(
    "d_ngram_jaccard",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 3
                  THEN list_distinct(list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                  -- mirror the Spark shingler: sub-k-token docs get one
                  -- whole-text shingle (whitespace-normalized)
                  ELSE [array_to_string(ws, ' ')]
             END AS s
      FROM toks
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round(len(list_intersect(a.s, b.s))::DOUBLE /
                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jac
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s))::DOUBLE /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
    """,
    tags=("llm", "dedup", "bench:headline"),
)
def d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard ≥ 0.6 pairs via inverted-index self-join
    (operators/dedup.ngram_jaccard_pairs) — no signatures, no
    probability: Jaccard is derived from exact co-occurrence counts.
    Same oracle as the MinHash path, so the two strategies
    cross-validate each other."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.6)


@register(
    "d_dedup_clusters",
    oracle=r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 3
                  THEN list_distinct(list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                  -- mirror the Spark shingler: sub-k-token docs get one
                  -- whole-text shingle (whitespace-normalized)
                  ELSE [array_to_string(ws, ' ')]
             END AS s
      FROM toks
    ), pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s))::DOUBLE /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION
      SELECT b_id, a_id FROM pairs
    ), reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id,
           least(src, min(dst)) AS cluster,
           CAST(least(src, min(dst)) = src AS BIGINT) AS is_canonical
    FROM reach GROUP BY src
    """,
    tags=("llm", "dedup", "iterative"),
)
def d_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → dedup CLUSTERS: connected components by
    iterative min-label propagation (operators/cluster.py) over the
    exact 3-gram-Jaccard edge set, labeling each doc with its
    cluster's min doc_id and flagging the canonical keeper. This is
    the genuinely iterative operator in the inventory (rounds =
    graph diameter, driver sees one scalar per round); the oracle is
    a recursive-CTE transitive closure over the identical pair SQL."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.6)
    cc = connected_components(pairs, "a_id", "b_id")
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster"),
        (F.col("node") == F.col("label")).cast("long").alias("is_canonical"),
    )


@register(
    "d_embedding_neardup",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), scored AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             list_sum(list_transform(range(1, len(a.e) + 1),
                      i -> a.e[i] * b.e[i]))
             / (sqrt(list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * a.e[i])))
              * sqrt(list_sum(list_transform(range(1, len(b.e) + 1), i -> b.e[i] * b.e[i])))) AS cos
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, round(cos, 4) AS cos
    FROM scored WHERE cos >= 0.45
    """,
    tags=("llm", "dedup", "similarity", "bench:headline"),
)
def d_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (≥ 0.45), EXACT, via distributed
    block-GEMM tiles (operators/similarity.cosine_neardup_pairs): the
    O(n²) similarity matrix is computed as blocks·(blocks+1)/2
    independent numpy tiles, each emitting only its over-threshold
    pairs, then re-scored with the fold-order cosine so values match
    the oracle bit-for-bit. The oracle is the naive pairwise SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(emb, "vec_id", "embedding", threshold=0.45)


@register(
    "d_rollhash_fingerprint",
    oracle="""
    WITH rh AS (
      SELECT doc_id,
             list_reduce(
               list_concat([CAST(0 AS BIGINT)],
                           list_transform(string_split(text, ''),
                                          c -> CAST(ascii(c) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS rh
      FROM documents
    )
    SELECT doc_id, rh,
           row_number() OVER (PARTITION BY rh ORDER BY doc_id) = 1 AS keep
    FROM rh
    """,
    tags=("llm", "dedup"),
)
def d_rollhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash document fingerprint (cheap,
    incrementally maintainable — contrast the md5 fingerprint tier) +
    first-id-wins keep flag. Pure built-in fold; scan + one hash agg
    and a join-back (the round-8 hot-key de-skew — see
    fingerprint_dedup's docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    rh = docs.select("doc_id", TXT.rolling_hash("text").alias("rh"))
    # eqNullSafe, not "rh": rolling_hash(NULL text) is NULL and a plain
    # equi-join would drop those rows; <=> matches the oracle's window
    # semantics (SQL windows group NULLs into one partition). ADVICE r08.
    canon = (
        rh.groupBy("rh")
        .agg(F.min("doc_id").alias("__canon_id"))
        .withColumnRenamed("rh", "__canon_rh")
    )
    return (
        rh.join(canon, F.col("rh").eqNullSafe(F.col("__canon_rh")))
        .withColumn("keep", F.col("doc_id") == F.col("__canon_id"))
        .select("doc_id", "rh", "keep")
    )


@register(
    "t_bpe_tokens",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '( ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+)', 1)) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(text,
             '( ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+)', 1))) AS BIGINT)
             AS n_unique_tokens
    FROM documents
    """,
    tags=("llm", "text", "bench:headline"),
)
def t_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-pre-tokenizer-style token counting (letter/digit/symbol runs
    with attached leading space — the budget-relevant count for LLM
    pipelines, vs. naive whitespace words). Regex kept to the Java∩RE2
    subset so both engines tokenize identically. Scan + project only."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TXT.bpe_ish_tokens("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
    )


@register(
    "s_knn_ivf",
    oracle="""
    SELECT CAST(5 AS BIGINT) AS k, CAST(60 AS BIGINT) AS floor_pct,
           CAST(100 AS BIGINT) AS n_true, CAST(1 AS BIGINT) AS meets_floor
    """,
    tags=("llm", "similarity", "bench:headline"),
)
def s_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: deterministic seeded centroids + one
    distributed Lloyd step, nprobe=4 of 16 cells per query, exact
    re-rank of the probed cells (operators/similarity.ivf_topk). The
    third ANN tier next to brute-force (exact) and SRP-LSH.

    Approximate neighbor lists aren't SQL-reproducible, so the query
    emits the recall-contract row instead (similarity.recall_contract):
    exact in-Spark brute-force recall@5 thresholded at 0.60 (measured
    0.83–0.93 across sf0.001–sf0.1), reduced to constants the DuckDB
    oracle replays — the hash check fails iff recall collapses."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    approx = ivf_topk(queries, emb, "vec_id", "embedding", k=5)
    exact = cosine_topk(queries, emb, "vec_id", "embedding", k=5)
    return recall_contract(approx, exact, k=5, floor_pct=60)


@register(
    "m_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) > 0
    ), fr AS (
      SELECT doc_id, text, n,
             unnest(range(least((n + 255) // 256, 4))) AS fi
      FROM f
    )
    SELECT doc_id,
           CAST(fi AS BIGINT) AS frame_idx,
           CAST(fi * 256 AS BIGINT) AS frame_offset,
           CAST(least(256, n - fi * 256) AS BIGINT) AS frame_len,
           CAST(ascii(substr(text, CAST(fi * 256 + 1 AS INTEGER), 1)) AS BIGINT)
             AS first_byte
    FROM fr
    """,
    tags=("llm", "multimodal"),
)
def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N frame sampling over opaque binary payloads: each payload is
    sliced into ≤4 256-byte 'frames' inside the Arrow batch
    (functions/multimodal.sample_frames) — the video-frame/audio-chunk
    extraction shape with a deterministic slicer where the codec goes.
    The oracle reproduces the slicing with substr arithmetic (fixture
    text is pure ASCII, so byte == char offsets)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    payloads = with_binary_payload(docs, "text")
    return sample_frames(payloads, "doc_id")


@register(
    "d_simhash_neardup",
    oracle=_SIMHASH_SIG_SQL
    + """
    , sigs AS (
      SELECT doc_id,
             (CASE WHEN uh >= 9223372036854775808
                   THEN uh - 18446744073709551616::HUGEINT
                   ELSE uh END)::BIGINT AS sig
      FROM u
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """,
    tags=("llm", "dedup"),
)
def d_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ 3 — banded candidate
    generation (exact by pigeonhole over 4×16-bit bands) + one
    bit_count(xor) verify per candidate. Completes the SimHash tier
    from signatures to actual pairs.

    The signature is pure integer arithmetic over md5 (no RNG, no
    floats), so the oracle recomputes it in SQL and does the O(n²)
    all-pairs hamming filter the banded plan avoids — value-for-value
    hash-checkable, and another complexity-class demonstration."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(docs, "text", "doc_id", max_hamming=3)


@register(
    "e1_salted_agg",
    oracle="""
    SELECT l_suppkey,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_suppkey
    """,
    tags=("relational", "agg", "skew"),
)
def e1_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase salted aggregation
    (operators/skew.salted_agg): partial-agg on (key, salt) then merge
    on key — one hot key becomes ``salt`` parallel reducers. The merge
    decomposition makes the result independent of the random salt
    assignment, so a plain GROUP BY oracle checks it exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_suppkey"],
        partial_aggs={"sum_qty": F.sum("l_quantity"), "n": F.count(F.lit(1))},
        merge_aggs={"sum_qty": F.sum("sum_qty"), "n": F.sum("n")},
        salt=16,
    )
    return out.select(
        "l_suppkey", F.round("sum_qty", 2).alias("sum_qty"), F.col("n")
    )


@register(
    "d_simhash",
    oracle=_SIMHASH_SIG_SQL
    + """
    SELECT doc_id,
           lpad(lower(hex(uh::UBIGINT)), 16, '0') AS simhash,
           (CASE WHEN uh >= 9223372036854775808
                 THEN uh - 18446744073709551616::HUGEINT
                 ELSE uh END)::BIGINT AS sig,
           ((uh // 1) % 65536)::BIGINT AS band0,
           ((uh // 65536) % 65536)::BIGINT AS band1,
           ((uh // 4294967296) % 65536)::BIGINT AS band2,
           ((uh // 281474976710656) % 65536)::BIGINT AS band3
    FROM u
    """,
    tags=("llm", "dedup"),
)
def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures via the Arrow/mapInPandas path —
    the vectorized-Python demonstration (E15). The signature is
    deterministic integer arithmetic over md5 (operators/dedup.py:
    md5-low-64 per distinct 3-word shingle, ±1 per bit, sign
    threshold), so the oracle recomputes the exact signatures in SQL —
    full value-hash parity, not a rows-only check. The 4×16-bit LSH
    bands are emitted as scalar columns (band0..band3) so every cell
    is hashable by the driver's flat value compare."""
    # md5-per-shingle in Python is CPU-bound; fan a single-file scan
    # out across the cluster (no-op when the scan is already wide).
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sigs = simhash_signatures(docs, "text", "doc_id")
    return sigs.select(
        "doc_id",
        "simhash",
        "sig",
        *[sigs.bands[b].alias(f"band{b}") for b in range(4)],
    )


# ---------------------------------------------------------------------------
# E9 — similarity search
# ---------------------------------------------------------------------------


@register(
    "s_knn_bruteforce",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE vec_id < 20
    ), v AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS e FROM embeddings
    ), scored AS (
      SELECT q.query_id, v.neighbor_id,
             list_sum(list_transform(range(1, len(q.e) + 1),
                      i -> q.e[i] * v.e[i]))
             / (sqrt(list_sum(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * q.e[i])))
              * sqrt(list_sum(list_transform(range(1, len(v.e) + 1), i -> v.e[i] * v.e[i])))) AS cos
      FROM q JOIN v ON q.query_id <> v.neighbor_id
    )
    SELECT query_id, neighbor_id, round(cos, 4) AS cos, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    tags=("llm", "similarity", "bench:headline"),
)
def s_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 20 query vectors — map-only
    GEMM scoring per Arrow batch, batch-local top-k merge, fold-order
    re-score (operators/similarity.cosine_topk_blocked) so values
    hash-match the DuckDB oracle's left-fold arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_blocked(queries, emb, "vec_id", "embedding", k=5)


@register(
    "s_knn_tiled",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(q.e) + 1),
                      i -> q.e[i] * c.e[i]))
             / (sqrt(list_sum(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * q.e[i])))
              * sqrt(list_sum(list_transform(range(1, len(c.e) + 1), i -> c.e[i] * c.e[i])))) AS cos
      FROM v q JOIN v c ON q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, round(cos, 4) AS cos, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
    tags=("llm", "similarity"),
)
def s_knn_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 neighbors for EVERY vector (|Q| = |corpus|) via the
    fully-distributed tiled GEMM (operators/similarity.cosine_topk_tiled)
    — 2D block matmul over cogrouped tiles, per-query tile-local top-k
    merge, fold-order re-score. Unlike cosine_topk_blocked nothing is
    collected to the driver, so this is the shape that survives a
    corpus-sized query set at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_tiled(emb, emb, "vec_id", "embedding", k=3)


@register(
    "s_knn_lsh",
    oracle="""
    SELECT CAST(5 AS BIGINT) AS k, CAST(50 AS BIGINT) AS floor_pct,
           CAST(100 AS BIGINT) AS n_true, CAST(1 AS BIGINT) AS meets_floor
    """,
    tags=("llm", "similarity"),
)
def s_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via sign-random-projection LSH (8 tables × 4
    planes, deterministic md5-derived hyperplanes) + exact re-rank of
    candidates. The 100 TB scale path: per-query work is bucket-sized,
    not corpus-sized. Config note: the fixture vectors are near-random
    (hardest case for SRP); measured recall@5 0.64–0.74 across
    sf0.001–sf0.1, rising with `tables` (16 → 0.89) and on any
    genuinely clustered corpus — hence the 0.50 contract floor.

    Emits the recall-contract row (similarity.recall_contract): the
    DuckDB oracle replays the constants, so the driver's hash check
    fails iff recall drops below the floor."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    approx = srp_lsh_topk(queries, emb, "vec_id", "embedding", k=5)
    exact = cosine_topk(queries, emb, "vec_id", "embedding", k=5)
    return recall_contract(approx, exact, k=5, floor_pct=50)


# ---------------------------------------------------------------------------
# E11 — multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "m_binary_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
           CAST(octet_length(encode(text)) % 256 AS BIGINT) AS fake_width,
           CAST(octet_length(encode(text)) // 256 AS BIGINT) AS fake_height
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def m_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary payload → per-payload features through the real
    mapInPandas/Arrow plumbing (schema, batch shape, partitioning);
    the features are pure byte functions so a SQL oracle can verify
    the pipeline end-to-end (real pixel decode: see
    ``m_image_decode_features``)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    payloads = with_binary_payload(docs, "text")
    return extract_binary_features(payloads, "doc_id")


@register(
    "m_image_decode_features",
    oracle="""
    WITH g AS (SELECT unnest(generate_series(0, 7)) AS i),
    grid AS (SELECT a.i AS gx, b.i AS gy FROM g a, g b),
    d AS (SELECT doc_id, 16 + doc_id % 9 AS w, 16 + doc_id % 7 AS h
          FROM documents),
    s AS (
      SELECT d.doc_id, d.w, d.h,
             (grid.gx * d.w) // 8 AS sx, (grid.gy * d.h) // 8 AS sy
      FROM d CROSS JOIN grid
    )
    SELECT doc_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum((doc_id + sx + sy) % 256) AS BIGINT) AS sum_r,
           CAST(sum((doc_id + 2 * sx) % 256) AS BIGINT) AS sum_g,
           CAST(sum((doc_id + 3 * sy) % 256) AS BIGINT) AS sum_b
    FROM s GROUP BY doc_id
    """,
    tags=("llm", "multimodal"),
)
def m_image_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode → resize → feature extraction, end-to-end and
    oracle-checked (SURVEY E11, de-stubbed in round 4). Per document a
    synthetic PPM(P6) image is generated whose pixels are a closed-form
    function of doc_id — r=(id+x+y)%256, g=(id+2x)%256, b=(id+3y)%256
    at size (16+id%9) × (16+id%7) — then the worker DECODES THE BYTES
    with the pure-numpy PPM parser (functions/multimodal.decode_image's
    algorithm), nearest-neighbor-resizes to 8×8 with integer index
    mapping (y·H)//8, and emits exact integer channel sums. The DuckDB
    oracle recomputes the same sums in closed form over a generated
    8×8 grid — so a decode bug (offset, row order, channel swap,
    resize index) breaks the hash match.

    The worker inlines the PPM parser as a nested def: cloudpickle
    ships closures by value, while a reference to the module function
    would require this package to be importable on executors (it is
    not, when driven from an arbitrary cwd — the harness's standing
    constraint). ``tests/test_llm.py`` pins the module
    ``decode_image`` byte-for-byte against this worker's parser.

    Scale: one Arrow batch stream, no shuffle at all — decode is
    embarrassingly parallel; real corpora repartition first so batches
    are uniform (see functions/multimodal module notes). PNG and
    baseline JPEG decode are real (stdlib zlib / pure-numpy DCT);
    WebP still needs an external codec wired into ``decode_image``."""

    def decode_features(batches):
        import numpy as np
        import pandas as pd

        def ppm_decode(data):
            pos, toks = 2, []
            while len(toks) < 3:
                while data[pos : pos + 1].isspace():
                    pos += 1
                if data[pos : pos + 1] == b"#":
                    while data[pos] != 0x0A:
                        pos += 1
                    continue
                start = pos
                while not data[pos : pos + 1].isspace():
                    pos += 1
                toks.append(int(data[start:pos]))
            pos += 1
            w, h, maxval = toks
            assert maxval == 255
            return np.frombuffer(data, np.uint8, h * w * 3, pos).reshape(h, w, 3)

        for pdf in batches:
            out = {
                k: []
                for k in ("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
            }
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                w, h = 16 + did % 9, 16 + did % 7
                y = np.arange(h)[:, None]
                x = np.arange(w)[None, :]
                img = np.stack(
                    [
                        (did + x + y) % 256,
                        np.broadcast_to((did + 2 * x) % 256, (h, w)),
                        np.broadcast_to((did + 3 * y) % 256, (h, w)),
                    ],
                    axis=-1,
                ).astype(np.uint8)
                data = b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()
                dec = ppm_decode(data)  # the real byte-level decode
                ys = (np.arange(8) * h) // 8
                xs = (np.arange(8) * w) // 8
                small = dec[ys][:, xs].astype(np.int64)
                out["doc_id"].append(did)
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(int(small[:, :, 0].sum()))
                out["sum_g"].append(int(small[:, :, 1].sum()))
                out["sum_b"].append(int(small[:, :, 2].sum()))
            yield pd.DataFrame(out)

    # Decode is CPU-bound Python; the fixture is one small parquet
    # file = ONE input partition, which would run the whole decode on
    # a single core (measured: 6.4 s -> 0.98 s at sf0.1 for the PNG
    # query). ensure_parallelism fans it out, and is a no-op at real
    # scale where the scan is already wide.
    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    return docs.mapInPandas(
        decode_features,
        "doc_id long, width long, height long, sum_r long, sum_g long, "
        "sum_b long",
    )


@register(
    "m_png_decode_features",
    oracle="""
    WITH g AS (SELECT unnest(generate_series(0, 7)) AS i),
    grid AS (SELECT a.i AS gx, b.i AS gy FROM g a, g b),
    d AS (SELECT doc_id, 16 + doc_id % 9 AS w, 16 + doc_id % 7 AS h
          FROM documents),
    s AS (
      SELECT d.doc_id, d.w, d.h,
             (grid.gx * d.w) // 8 AS sx, (grid.gy * d.h) // 8 AS sy
      FROM d CROSS JOIN grid
    )
    SELECT doc_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum((doc_id + sx + sy) % 256) AS BIGINT) AS sum_r,
           CAST(sum((doc_id + 2 * sx) % 256) AS BIGINT) AS sum_g,
           CAST(sum((doc_id + 3 * sy) % 256) AS BIGINT) AS sum_b
    FROM s GROUP BY doc_id
    """,
    tags=("llm", "multimodal", "bench:additions"),
)
def m_png_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED image decode → resize → features, oracle-checked
    (round 5 — closes the r04 "compressed formats" extension point for
    PNG, the one compressed format whose codec (DEFLATE) is stdlib).
    Per document the same closed-form pixel pattern as
    ``m_image_decode_features`` is PNG-ENCODED with the per-row filter
    type CYCLING 0→1→2→3→4 (None/Sub/Up/Average/Paeth — one image
    exercises every unfilter path), then the worker walks the chunk
    stream, zlib-inflates the IDAT, unfilters every scanline, resizes
    8×8, and emits exact integer channel sums. The DuckDB oracle is
    the same closed-form grid as the PPM query — identical final
    sums, but reaching them requires a byte-correct DEFLATE+unfilter
    round-trip, so any decode bug (filter arithmetic, chunk offsets,
    channel order) breaks the hash match.

    The worker closes over the MODULE codec
    (``functions/multimodal.encode_png``/``_decode_png``): both are
    created inside ``_make_binary_codecs`` so their ``<locals>``
    qualnames make cloudpickle ship them BY VALUE — one codec
    implementation engine-wide, no executor package import needed
    (same pattern as ``sources/warc.py``); ``tests/test_llm.py``
    exercises the same codec against the closed-form sums. Scale:
    identical to the PPM path — one Arrow batch stream, no shuffle,
    embarrassingly parallel decode."""
    from turnover_odata_etl_spark.functions.multimodal import (
        _decode_png as png_decode,
        encode_png as png_encode,
    )

    def decode_features(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                k: []
                for k in ("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
            }
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                w, h = 16 + did % 9, 16 + did % 7
                y = np.arange(h)[:, None]
                x = np.arange(w)[None, :]
                img = np.stack(
                    [
                        (did + x + y) % 256,
                        np.broadcast_to((did + 2 * x) % 256, (h, w)),
                        np.broadcast_to((did + 3 * y) % 256, (h, w)),
                    ],
                    axis=-1,
                ).astype(np.uint8)
                data = png_encode(img, [0, 1, 2, 3, 4])
                dec = png_decode(data)  # real DEFLATE + unfilter decode
                ys = (np.arange(8) * h) // 8
                xs = (np.arange(8) * w) // 8
                small = dec[ys][:, xs].astype(np.int64)
                out["doc_id"].append(did)
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(int(small[:, :, 0].sum()))
                out["sum_g"].append(int(small[:, :, 1].sum()))
                out["sum_b"].append(int(small[:, :, 2].sum()))
            yield pd.DataFrame(out)

    # Decode is CPU-bound Python; the fixture is one small parquet
    # file = ONE input partition, which would run the whole decode on
    # a single core (measured: 6.4 s -> 0.98 s at sf0.1 for the PNG
    # query). ensure_parallelism fans it out, and is a no-op at real
    # scale where the scan is already wide.
    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    return docs.mapInPandas(
        decode_features,
        "doc_id long, width long, height long, sum_r long, sum_g long, "
        "sum_b long",
    )


@register(
    "m_wav_decode_features",
    oracle="""
    WITH d AS (SELECT doc_id, 800 + doc_id % 256 AS n FROM documents),
    s AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
          FROM d),
    v AS (SELECT doc_id, i // 256 AS frame_idx,
                 ((doc_id * 31 + i * 7) % 65536) - 32768 AS smp
          FROM s)
    SELECT doc_id, frame_idx,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(smp) AS BIGINT) AS sum_s,
           CAST(min(smp) AS BIGINT) AS min_s,
           CAST(max(smp) AS BIGINT) AS max_s
    FROM v GROUP BY doc_id, frame_idx
    """,
    tags=("llm", "multimodal", "audio", "bench:additions"),
)
def m_wav_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode → framed features, oracle-checked — the AUDIO
    counterpart of the image codec queries (round 5; SURVEY E11 lists
    image/audio/video as multimodal columns, and until now only image
    decode was real). Per document a deterministic 16-bit PCM signal —
    sample[i] = ((doc_id·31 + i·7) mod 65536) − 32768, length
    800 + doc_id % 256 — is WAV-ENCODED (RIFF header, fmt chunk, data
    chunk), then the worker WALKS THE RIFF CHUNKS, parses the PCM
    stream, splits it into 256-sample frames, and emits exact integer
    per-frame aggregates (count/sum/min/max — the integer skeleton of
    RMS-energy framing). The DuckDB oracle recomputes the same frames
    in closed form, so a parse bug (chunk offset, endianness, int16
    sign) breaks the hash match. 1→N frame expansion happens inside
    the Arrow batch — no explode shuffle, same posture as
    ``sample_frames``.

    The worker closes over the MODULE codec
    (``functions/multimodal.encode_wav``/``decode_wav``), shipped BY
    VALUE via their ``_make_binary_codecs`` ``<locals>`` qualnames —
    one codec implementation engine-wide (same pattern as
    ``sources/warc.py``). Compressed audio (MP3/AAC/Opus) stays a
    loudly-failing extension point, matching WebP on the image
    side."""
    from turnover_odata_etl_spark.functions.multimodal import (
        decode_wav as wav_decode,
        encode_wav as wav_encode,
    )

    def decode_features(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                k: []
                for k in (
                    "doc_id", "frame_idx", "n_samples", "sum_s", "min_s",
                    "max_s",
                )
            }
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                n = 800 + did % 256
                i = np.arange(n, dtype=np.int64)
                samples = ((did * 31 + i * 7) % 65536 - 32768).astype(np.int16)
                data = wav_encode(samples, 16000)
                frames, _rate = wav_decode(data)  # real RIFF parse
                dec = frames[:, 0].astype(np.int64)
                for f0 in range(0, n, 256):
                    frame = dec[f0 : f0 + 256]
                    out["doc_id"].append(did)
                    out["frame_idx"].append(f0 // 256)
                    out["n_samples"].append(len(frame))
                    out["sum_s"].append(int(frame.sum()))
                    out["min_s"].append(int(frame.min()))
                    out["max_s"].append(int(frame.max()))
            yield pd.DataFrame(out)

    # Decode is CPU-bound Python; the fixture is one small parquet
    # file = ONE input partition, which would run the whole decode on
    # a single core (measured: 6.4 s -> 0.98 s at sf0.1 for the PNG
    # query). ensure_parallelism fans it out, and is a no-op at real
    # scale where the scan is already wide.
    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    return docs.mapInPandas(
        decode_features,
        "doc_id long, frame_idx long, n_samples long, sum_s long, "
        "min_s long, max_s long",
    )


def pack_fragments(
    df: DataFrame,
    n_shards: int | None = None,
    block: int = 512,
) -> DataFrame:
    """Packing kernel shared by ``t_sequence_pack`` and
    ``t_pretrain_pipeline``: concatenate documents in deterministic
    (shard, doc_id) order and split the token stream into fixed
    ``block``-token training sequences, emitting
    (shard, seq_no, doc_id, off_in_seq, frag_len) fragments.

    ``df`` must carry ``doc_id`` and ``n_tok >= 1``. Packing is
    inherently sequential, so the sequential scope is made explicit:
    documents shard by ``doc_id % n_shards`` and the exclusive
    prefix-sum runs per shard (one shuffle, shards pack
    independently). ``n_shards`` defaults to the session's
    ``defaultParallelism`` so the ordered-window width scales with the
    cluster — on a 1000-executor cluster each shard holds ~1/cores of
    the corpus instead of a fixed 1/8 (the hardcoded 8 flagged in the
    r04 verdict was a straggler at 100 TB). Registered queries pin
    ``n_shards=8`` so the DuckDB oracle stays bit-exact; the pin is a
    parity choice, not an engine property. Chunk straddling uses the
    bounded explode ``sequence(cum div B, (cum+n-1) div B)`` — a
    document adds at most ceil(n_tok/B) fragments, and all arithmetic
    is integer-exact."""
    if n_shards is None:
        n_shards = df.sparkSession.sparkContext.defaultParallelism
    t = df.withColumn("shard", F.col("doc_id") % n_shards)
    wp = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn("cum", F.coalesce(F.sum("n_tok").over(wp), F.lit(0)))
    frags = c.withColumn(
        "seq_no",
        F.explode(
            F.sequence(
                F.expr(f"cum div {block}"),
                F.expr(f"(cum + n_tok - 1) div {block}"),
            )
        ),
    )
    start = F.greatest(F.col("cum"), F.col("seq_no") * block)
    end = F.least(
        F.col("cum") + F.col("n_tok"), (F.col("seq_no") + 1) * block
    )
    return frags.select(
        "shard",
        "seq_no",
        "doc_id",
        (start - F.col("seq_no") * block).alias("off_in_seq"),
        (end - start).alias("frag_len"),
    )


@register(
    "t_sequence_pack",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tok
      FROM documents WHERE trim(text) <> ''
    ), c AS (
      SELECT doc_id, shard, n_tok,
             CAST(coalesce(sum(n_tok) OVER (
                      PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS cum
      FROM t
    ), frags AS (
      SELECT doc_id, shard, n_tok, cum,
             unnest(generate_series(cum // 512,
                                    (cum + n_tok - 1) // 512)) AS seq_no
      FROM c
    )
    SELECT shard, seq_no, doc_id,
           greatest(cum, seq_no * 512) - seq_no * 512 AS off_in_seq,
           least(cum + n_tok, (seq_no + 1) * 512)
             - greatest(cum, seq_no * 512) AS frag_len
    FROM frags
    """,
    tags=("llm", "text", "packing"),
)
def t_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a
    deterministic order and split the token stream into fixed 512-token
    training sequences, emitting (shard, seq_no, doc_id, offset, len)
    fragments — exactly the concat-then-chunk packing LLM pretraining
    uses (each sequence is dense, documents may straddle a boundary;
    the fragment map is what the loader needs to mask cross-document
    attention).

    Distribution: delegates to :func:`pack_fragments` — shard-local
    exclusive prefix sums, shard count defaulting to cluster
    parallelism (pinned to 8 HERE so the DuckDB oracle matches
    bit-for-bit; see the kernel's docstring for the 100-TB posture).
    Empty documents are excluded on both sides (Spark's
    `sequence(a, b)` generates DESCENDING for a > b — the n_tok >= 1
    guard keeps that footgun unreachable)."""
    t = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            TXT.token_count("text").alias("n_tok"),
        )
        .filter(F.col("n_tok") >= 1)
    )
    return pack_fragments(t, n_shards=8, block=512)


@register(
    "t_decontaminate",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 8 THEN
               list_distinct(list_transform(range(len(t) - 7),
                             i -> array_to_string(t[i+1:i+8], ' ')))
             ELSE [] END AS shingles
      FROM toks
    ), ev AS (
      SELECT flatten(list(shingles)) AS evs FROM sh WHERE doc_id % 97 = 0
    )
    SELECT sh.doc_id FROM sh, ev
    WHERE sh.doc_id % 97 <> 0 AND NOT list_has_any(sh.shingles, ev.evs)
    """,
    tags=("llm", "dedup", "decontamination"),
)
def t_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination — the benchmark-integrity op every
    serious pretraining pipeline runs: drop any training document that
    shares an 8-token shingle with the held-out evaluation set (here
    the deterministic ~1% slice ``doc_id % 97 == 0`` plays the eval
    set). Exact n-gram-collision semantics, the standard published
    recipe (8-gram overlap), not fuzzy matching — fuzzy tiers are the
    dedup ladder's job.

    Scale: the eval side is small BY CONSTRUCTION (benchmarks are KBs
    to MBs), so its distinct shingle set broadcasts; the 100-TB
    training side explodes shingles map-side and left-semi probes the
    broadcast — contaminated doc_ids emerge from one doc_id-keyed
    distinct, and the final anti join is doc_id-co-partitioned. The
    corpus is never shuffled by shingle. Documents under 8 tokens have
    no shingles and are never contaminated (both engines agree: empty
    list overlaps nothing)."""
    # tk via _with_tk (a Generate-boundary attribute): the aliased
    # split would otherwise be re-expanded inside the shingle
    # explode's interpreted transform lambda — see _with_tk.
    docs = _with_tk(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id",
        F.when(
            F.size("tk") >= 8,
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(tk) - 7),"
                    " i -> concat_ws(' ', slice(tk, i, 8)))"
                )
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("shingles"),
    )
    is_eval = F.col("doc_id") % 97 == 0
    eval_sh = (
        sh.filter(is_eval)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    train = sh.filter(~is_eval)
    contaminated = (
        train.select("doc_id", F.explode("shingles").alias("s"))
        .join(F.broadcast(eval_sh), "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return train.join(contaminated, "doc_id", "left_anti").select("doc_id")


@register(
    "t_hash_split",
    oracle="""
    SELECT CASE WHEN h < 'cc' THEN 'train'
                WHEN h < 'e6' THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars
    FROM (SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h, n_chars
          FROM documents)
    GROUP BY 1
    """,
    tags=("llm", "text", "split"),
)
def t_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: bucket on md5(doc_id) hex
    prefix ('cc'/256 ≈ 80% train, 'e6' → 10% val, 10% test). The
    assignment is a pure projection — no shuffle, no RNG, no state —
    so it is stable across runs, engines, cluster sizes, and
    re-partitioning, which is the property a training-data split
    must have (rand()-based splits leak rows between splits on
    re-execution). Extends the reference's determinism habit
    (sorted(set(...)), src/etl.py:136) to sampling."""
    d = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


@register(
    "t_stratified_sample",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE h4 < CASE WHEN lang = 'en'
                                               THEN '8000' ELSE 'cccc' END)
                AS BIGINT) AS n_kept
    FROM (SELECT lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h4
          FROM documents)
    GROUP BY lang
    """,
    tags=("llm", "text", "split"),
)
def t_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: per-language keep-rate
    via an md5 threshold (en → 50%, minority languages → 80%) — the
    standard rebalancing move for a multilingual training corpus.
    Same no-RNG/no-shuffle argument as t_hash_split: `sampleBy()`
    draws from a seeded RNG per task, so its output changes with
    partitioning; a hash threshold never does. Reported as per-lang
    totals so the oracle checks the exact membership count."""
    d = load_table(spark, sf_dir, "documents")
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thr = F.when(F.col("lang") == "en", "8000").otherwise("cccc")
    return (
        d.select("lang", (h4 < thr).cast("long").alias("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").alias("n_kept"),
        )
    )


@register(
    "d_levenshtein_blocked",
    oracle="""
    SELECT d1.doc_id AS doc_a, d2.doc_id AS doc_b,
           CAST(levenshtein(d1.p, d2.p) AS BIGINT) AS edit_dist
    FROM (SELECT doc_id, lang, substr(text, 1, 32) AS p,
                 substr(text, 1, 8) AS b FROM documents) d1
    JOIN (SELECT doc_id, lang, substr(text, 1, 32) AS p,
                 substr(text, 1, 8) AS b FROM documents) d2
      ON d1.b = d2.b AND d1.lang = d2.lang AND d1.doc_id < d2.doc_id
    WHERE levenshtein(d1.p, d2.p) <= 6
    """,
    tags=("llm", "dedup", "similarity"),
)
def d_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup tier: candidate pairs via equi-join on a
    cheap blocking key (lang + 8-char prefix), then exact
    levenshtein on a 32-char prefix only for within-block pairs.
    The O(n²·m²) all-pairs edit distance becomes O(Σ block²) with
    dimension-sized blocks — same blocked-verify architecture as the
    MinHash and SimHash tiers, but with a metric that catches small
    in-place edits shingling dilutes. Built-in F.levenshtein (JVM,
    codegen), no UDF."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.substring("text", 1, 32).alias("p"),
        F.substring("text", 1, 8).alias("b"),
    )
    d1 = d.alias("d1")
    d2 = d.alias("d2")
    dist = F.levenshtein(F.col("d1.p"), F.col("d2.p"))
    return (
        d1.join(
            d2,
            (F.col("d1.b") == F.col("d2.b"))
            & (F.col("d1.lang") == F.col("d2.lang"))
            & (F.col("d1.doc_id") < F.col("d2.doc_id")),
        )
        .filter(dist <= 6)
        .select(
            F.col("d1.doc_id").alias("doc_a"),
            F.col("d2.doc_id").alias("doc_b"),
            dist.cast("long").alias("edit_dist"),
        )
    )


@register(
    "t_corpus_pipeline",
    oracle="""
    WITH q AS (
      SELECT * FROM documents WHERE n_chars >= 100
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) AS rn
      FROM q
    ), kept AS (
      SELECT * FROM ranked WHERE rn = 1
    ), tagged AS (
      SELECT lang, n_chars,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                  THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                  THEN 'val'
                  ELSE 'test' END AS split
      FROM kept
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           round(avg(n_chars), 2) AS avg_chars
    FROM tagged
    GROUP BY split, lang
    """,
    tags=("llm", "text", "dedup", "split", "etl"),
)
def t_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus build in ONE declarative job:
    quality gate (length floor) → exact dedup on content fingerprint
    keeping the lowest doc_id → deterministic md5 train/val/test
    split → per-(split, lang) corpus stats. Because it is a single
    plan, Catalyst pushes the quality filter into the parquet scan
    and the whole thing costs one shuffle (dedup window) plus one
    final agg shuffle — the composition is free, which is exactly
    why pipeline stages should be DataFrame ops, not separate
    materialized passes."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") >= 100
    )
    # keep-one via groupBy min(doc_id) + semi-join, not a window over
    # the fingerprint — the hot-key de-skew applied across the exact-
    # dedup family in round 8 (see fingerprint_dedup's docstring)
    # (null-safe on the fingerprint — md5(NULL) is NULL and a plain
    # equi-semi-join would silently drop such rows; the n_chars gate
    # makes NULL text unreachable here, but the operator contract
    # should not depend on that. ADVICE r08.)
    fp = d.withColumn("__fp", F.md5("text"))
    canon = fp.groupBy("__fp").agg(F.min("doc_id").alias("__canon_id"))
    kept = fp.join(
        canon,
        fp["__fp"].eqNullSafe(canon["__fp"])
        & (fp["doc_id"] == canon["__canon_id"]),
        "left_semi",
    ).drop("__fp")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
    return (
        kept.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


# ---------------------------------------------------------------------------
# E10 cont. — corpus-curation heuristics from published web-scale pipelines
# (C4-style quality gates, Gopher-style repetition metrics, domain-balanced
# sampling, PII scrubbing, semantic dedup). All are the textbook public
# recipes re-expressed as declarative plans.
# ---------------------------------------------------------------------------


@register(
    "t_repetition_metrics",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\s+') END AS ws
      FROM documents
    ), t AS (
      SELECT doc_id, len(ws) AS n, unnest(ws) AS tok FROM toks
    ), c AS (
      SELECT doc_id, n, tok, count(*) AS cnt FROM t GROUP BY 1, 2, 3
    ), top AS (
      SELECT doc_id, n, max(cnt) AS top FROM c GROUP BY 1, 2
    ), g AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 2
                  THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
                  ELSE []::VARCHAR[] END AS g2
      FROM toks
    )
    SELECT top.doc_id,
           CAST(top.n AS BIGINT) AS n_tokens,
           round(top.top::DOUBLE / top.n, 4) AS top_token_frac,
           CASE WHEN len(g.g2) > 0
                THEN round(1 - len(list_distinct(g.g2))::DOUBLE / len(g.g2), 4)
                ELSE 0.0 END AS dup_2gram_frac
    FROM top JOIN g ON top.doc_id = g.doc_id
    """,
    tags=("llm", "text", "quality"),
)
def t_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition statistics per document — the repetition family of
    filters from published large-corpus curation recipes (most-frequent
    -token fraction, duplicate-2-gram fraction): high values flag
    boilerplate/spam pages that near-dup dedup misses because the
    repetition is WITHIN the document. top-token counting shuffles on
    (doc_id, token) — partial aggregation makes it map-side cheap —
    while the 2-gram ratio is pure array math inside codegen, no
    shuffle at all. Docs with no tokens drop (no rows from explode);
    empty-corpus safe."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    d = docs.select("doc_id", TXT.tokens("text").alias("toks"))
    tok = d.select(
        "doc_id", F.size("toks").alias("n"), F.explode("toks").alias("tok")
    )
    top = (
        tok.groupBy("doc_id", "n", "tok")
        .count()
        .groupBy("doc_id", "n")
        .agg(F.max("count").alias("top"))
    )
    g2 = d.select(
        "doc_id",
        F.expr(
            "CASE WHEN size(toks) >= 2 THEN "
            "zip_with(slice(toks, 1, size(toks) - 1), "
            "         slice(toks, 2, size(toks) - 1), "
            "         (a, b) -> concat(a, ' ', b)) "
            "ELSE array() END"
        ).alias("g2"),
    )
    return (
        top.join(g2, "doc_id")
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.round(F.col("top") / F.col("n"), 4).alias("top_token_frac"),
            F.when(
                F.size("g2") > 0,
                F.round(
                    F.lit(1) - F.size(F.array_distinct("g2")) / F.size("g2"), 4
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_2gram_frac"),
        )
    )


@register(
    "t_quality_filter_c4",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\s+') END AS ws
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CASE WHEN len(ws) > 0
                  THEN round(list_sum(list_transform(ws, x -> len(x)))::DOUBLE / len(ws), 4)
                  ELSE 0.0 END AS mean_word_len,
             regexp_matches(rtrim(text), '[.!?"]$') AS ends_terminal,
             (text LIKE '%{%' OR text LIKE '%}%') AS has_curly,
             contains(lower(text), 'lorem ipsum') AS has_lorem
      FROM toks
    )
    SELECT doc_id, n_words, mean_word_len, ends_terminal, has_curly, has_lorem,
           (n_words >= 5 AND mean_word_len >= 3 AND mean_word_len <= 10
            AND NOT has_curly AND NOT has_lorem) AS keep
    FROM m
    """,
    tags=("llm", "text", "quality"),
)
def t_quality_filter_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic public web-corpus quality gate (word-count floor,
    mean-word-length band, code/boilerplate markers, terminal
    punctuation) emitted as per-rule booleans plus the combined keep
    flag — keeping the REASONS queryable is what lets a pipeline audit
    which rule rejected how much volume. Every rule is a codegen'd
    column expression over one scan: zero shuffles, filter fully
    pushable when used as a WHERE."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TXT.tokens("text")
    n_words = F.size(toks).cast("long")
    mean_wl = F.when(
        F.size(toks) > 0,
        F.round(
            F.expr(
                "aggregate(transform("
                "  CASE WHEN trim(text) = '' THEN array() ELSE split(trim(text), '\\\\s+') END,"
                "  x -> length(x)), 0L, (a, x) -> a + x)"
            )
            / F.size(toks),
            4,
        ),
    ).otherwise(F.lit(0.0))
    ends_terminal = F.rtrim(F.col("text")).rlike('[.!?"]$')
    has_curly = F.col("text").contains("{") | F.col("text").contains("}")
    has_lorem = F.lower(F.col("text")).contains("lorem ipsum")
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        ends_terminal.alias("ends_terminal"),
        has_curly.alias("has_curly"),
        has_lorem.alias("has_lorem"),
        (
            (n_words >= 5)
            & (mean_wl >= 3)
            & (mean_wl <= 10)
            & ~has_curly
            & ~has_lorem
        ).alias("keep"),
    )


@register(
    "t_domain_balanced_sample",
    oracle="""
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 50
    """,
    tags=("llm", "sampling"),
)
def t_domain_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-balanced subsampling: cap every source/domain at N docs,
    chosen by deterministic hash order (md5 of the id — reproducible
    across runs and engines, no RNG state). This is the standard
    anti-domination move in web-corpus assembly (one giant crawl
    domain must not drown the mixture). One shuffle on source; the
    rank is windowed, so a skewed domain is one partition — for truly
    monster domains swap in the salted two-phase top-N from
    operators/skew.py."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 50)
    )


@register(
    "t_pii_redact",
    oracle=r"""
    WITH red AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
               AS n_emails,
             CAST(len(regexp_extract_all(text,
               '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS BIGINT) AS n_phones,
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
      FROM documents
    )
    SELECT doc_id, n_emails, n_phones, md5(redacted) AS redacted_hash
    FROM red
    """,
    tags=("llm", "text", "scrubbing"),
)
def t_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass — count and mask email/phone spans with
    fixed placeholder tokens (the standard pre-training scrub). The
    regexes are deliberately restricted to syntax with identical
    semantics in Java regex and RE2 so the oracle is exact; output
    carries md5(redacted) rather than the full text (hash-stable,
    cheap to compare). Pure per-row column expressions — map-only,
    scales with partitions."""
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+?[0-9][0-9()\- ]{7,}[0-9]"
    docs = load_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), phone, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(email), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(phone), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
    )


@register(
    "d_semantic_dedup",
    oracle="""
    WITH RECURSIVE v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_sum(list_transform(range(1, len(a.e) + 1),
                     i -> a.e[i] * b.e[i]))
            / (sqrt(list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * a.e[i])))
             * sqrt(list_sum(list_transform(range(1, len(b.e) + 1), i -> b.e[i] * b.e[i])))) >= 0.45
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION
      SELECT b_id, a_id FROM pairs
    ), reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS vec_id,
           least(src, min(dst)) AS cluster,
           CAST(least(src, min(dst)) = src AS BIGINT) AS is_canonical
    FROM reach GROUP BY src
    """,
    tags=("llm", "dedup", "similarity", "iterative"),
)
def d_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup: embedding-cosine near-dup pairs (exact blocked
    GEMM, operators/similarity.cosine_neardup_pairs) → connected
    components → one canonical representative per semantic cluster.
    The embedding-space analogue of d_dedup_clusters — catches
    paraphrase-level duplication that token shingles can't. Same
    min-label propagation (rounds = cluster diameter, scalar-only
    driver traffic); the oracle is the recursive-CTE closure over the
    identical pair predicate."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_neardup_pairs(emb, "vec_id", "embedding", threshold=0.45)
    cc = connected_components(pairs, "a_id", "b_id")
    return cc.select(
        F.col("node").alias("vec_id"),
        F.col("label").alias("cluster"),
        (F.col("label") == F.col("node")).cast("long").alias("is_canonical"),
    )


@register(
    "s_knn_pq",
    oracle="""
    SELECT CAST(5 AS BIGINT) AS k, CAST(50 AS BIGINT) AS floor_pct,
           CAST(100 AS BIGINT) AS n_true, CAST(1 AS BIGINT) AS meets_floor
    """,
    tags=("llm", "similarity"),
)
def s_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via product quantization + asymmetric-distance
    scan + exact re-rank (operators/similarity.pq_topk). The PQ memory
    story at 100 TB: the ANN scan reads m=8 bytes per corpus vector
    instead of 4·dim=256 — 32× less I/O in the pass that dominates ANN
    cost; emitted cosines are exact (re-ranked), only recall is
    approximate (measured 0.62–0.85 across sf0.001–sf0.1 on the
    near-random fixture, the hardest case for quantization).

    Emits the recall-contract row (similarity.recall_contract) so the
    driver's hash check fails iff recall drops below the 0.50 floor."""
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    approx = pq_topk(queries, emb, "vec_id", "embedding", k=5)
    exact = cosine_topk(queries, emb, "vec_id", "embedding", k=5)
    return recall_contract(approx, exact, k=5, floor_pct=50)


@register(
    "t_corpus_mixture",
    oracle="""
    WITH src AS (
      SELECT source,
             CAST(substr(source, 4) AS INT) % 3 + 1 AS w,
             CAST(count(*) AS BIGINT) AS n_avail
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(w) AS BIGINT) AS tw FROM src
    ), alloc AS (
      SELECT source, n_avail,
             CAST((30 * w) // tw AS BIGINT) AS base,
             CAST((30 * w) % tw AS BIGINT) AS rem
      FROM src, tot
    ), topped AS (
      SELECT source, n_avail, base, rem,
             CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT)
               AS rr,
             (SELECT CAST(30 - sum(base) AS BIGINT) FROM alloc) AS leftover
      FROM alloc
    ), final AS (
      SELECT source,
             least(n_avail,
                   base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END) AS k
      FROM topped
    )
    SELECT d.doc_id, d.source
    FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
      FROM documents
    ) d JOIN final USING (source)
    WHERE d.rn <= final.k
    """,
    tags=("llm", "sampling", "mixture"),
)
def t_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing — assemble a training mixture hitting
    TARGET PROPORTIONS per domain (the data-mixing step of every
    published pretraining recipe), exactly and deterministically:
    integer largest-remainder apportionment (floor allocations, then
    +1 to the largest remainders until the 30-doc budget is spent —
    the same scheme parliaments use; no float weights drifting the
    total), capped by per-source availability, with members chosen in
    md5 hash order (reproducible, engine-independent, no RNG).
    Source weights derive deterministically from the source id
    (1 + N mod 3) in lieu of a config table.

    Scale: the allocation table is one row per DOMAIN — dimension-
    sized however big the corpus — so apportionment computes in one
    tiny aggregate + global window and broadcasts back; the corpus
    pays one source-partitioned window for hash-rank selection (same
    posture as t_domain_balanced_sample; salt monster domains via
    operators/skew.py if needed)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    T = 30
    src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_avail"))
    src = src.withColumn(
        "w", F.expr("cast(substring(source, 4) as int) % 3 + 1")
    )
    tot = src.agg(F.sum("w").cast("long").alias("tw"))
    alloc = src.join(F.broadcast(tot)).select(
        "source",
        "n_avail",
        F.expr(f"cast(({T} * w) div tw as bigint)").alias("base"),
        F.expr(f"cast(({T} * w) % tw as bigint)").alias("rem"),
    )
    leftover = alloc.agg((F.lit(T) - F.sum("base")).cast("long").alias("leftover"))
    topped = alloc.withColumn(
        "rr",
        F.row_number()
        .over(Window.partitionBy().orderBy(F.desc("rem"), F.asc("source")))
        .cast("long"),
    ).join(F.broadcast(leftover))
    final = topped.select(
        "source",
        F.least(
            F.col("n_avail"),
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0),
        ).alias("k"),
    )
    wnd = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.withColumn("rn", F.row_number().over(wnd))
    return (
        ranked.join(F.broadcast(final), "source")
        .filter(F.col("rn") <= F.col("k"))
        .select("doc_id", "source")
    )


@register(
    "t_unigram_logprob",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents WHERE trim(text) <> ''
    ), tf AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n FROM tf
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           round(avg(-ln(tf.c / tot.n)), 4) AS avg_neg_logprob
    FROM toks t
    JOIN tf ON t.tok = tf.tok
    CROSS JOIN tot
    GROUP BY t.doc_id
    """,
    tags=("llm", "text", "quality"),
)
def t_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring, CCNet-shape: score every
    document by its average negative log-probability under a unigram
    model fit on the corpus itself (the cheap stand-in for the
    KenLM-perplexity filter in published web-corpus pipelines —
    documents whose token distribution diverges from the corpus score
    high and get filtered). Two genuinely separate passes: model fit
    (global term frequencies) and scoring (per-token lookup + per-doc
    average).

    Scale: the term-frequency model is VOCABULARY-sized (sublinear in
    corpus size, Heaps' law) — broadcast into the scoring join, so the
    corpus explodes map-side and aggregates per doc_id without ever
    shuffling on the token. The total-count scalar rides the same
    broadcast. Cross-engine floats: ln/avg differ by ulps at most;
    scores are continuous (never on a decimal grid), so the 4dp
    rounding is boundary-safe."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "tk", TXT.tokens(F.col("text"))
    )
    toks = docs.filter(F.size("tk") >= 1).select(
        "doc_id", F.explode("tk").alias("tok")
    )
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = tf.agg(F.sum("c").cast("long").alias("n"))
    return (
        toks.join(F.broadcast(tf), "tok")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.round(F.avg(-F.log(F.col("c") / F.col("n"))), 4).alias(
                "avg_neg_logprob"
            ),
        )
    )


@register(
    "t_weighted_sample_es",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source,
             1.0 + doc_id % 5 AS w,
             ((doc_id * 2654435761) % 1000003 + 1) / 1000004.0 AS u
      FROM documents
    ), keyed AS (
      SELECT doc_id, source,
             ln(u) / w AS k,
             row_number() OVER (PARTITION BY source
                                ORDER BY ln(u) / w DESC, doc_id) AS rn
      FROM scored
    )
    SELECT doc_id, source FROM keyed WHERE rn <= 5
    """,
    tags=("llm", "sampling", "weighted"),
)
def t_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, Efraimidis–Spirakis
    A-Res: each item draws key u^(1/w) (equivalently ln(u)/w) and the
    top-k keys per stratum are the sample — the distributed-friendly
    algorithm for 'sample 5 docs per source, heavier docs more
    likely', one pass, no rejection loop, exactly k per stratum.
    Determinism: u is a Knuth multiplicative-hash pseudo-uniform of
    the doc id (pure integer arithmetic — bit-identical on both
    engines; a production run seeds it per-epoch), so the oracle
    reproduces the draw exactly.

    Scale: scoring is map-side arithmetic; selection is one top-k
    window per stratum (same posture as t_domain_balanced_sample —
    salt monster strata via operators/skew.py). ln() ulps cannot flip
    the order: keys are continuous and ties break by doc_id."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (1.0 + F.col("doc_id") % 5).alias("w"),
        (((F.col("doc_id") * 2654435761) % 1000003 + 1) / 1000004.0).alias(
            "u"
        ),
    )
    k = F.log(F.col("u")) / F.col("w")
    wnd = Window.partitionBy("source").orderBy(k.desc(), F.asc("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(wnd))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "source")
    )


def _with_tk(df: DataFrame) -> DataFrame:
    """Attach the token array as a GENERATOR-OUTPUT attribute —
    ``explode`` of a one-element array — instead of a projection
    alias.

    Why: CollapseProject inlines an aliased ``split(text)`` into any
    downstream Generate, and inside a Generate the higher-order-
    function path runs INTERPRETED (no whole-stage-codegen CSE), so
    the shingle lambda ``slice(tk, i, 8)`` re-evaluates the full
    split once per transform iteration — measured 5.4 s vs 0.7 s at
    sf0.1 for the identical 230 k-row shingle explode. A Generate
    boundary turns ``tk`` into real column data that later operators
    can only REFERENCE, never re-expand. One row in, one row out, no
    shuffle, one extra no-op Generate node."""
    return df.select(
        "*", F.explode(F.array(TXT.tokens(F.col("text")))).alias("tk")
    )


def _pretrain_oracle(quality_where: str) -> str:
    """The pretraining-pipeline oracle CTE chain, parameterized by the
    quality predicate so the parquet capstone (``n_chars >= 100``) and
    the WARC-ingest capstone (``length(text) >= 100`` — the archive
    carries no precomputed stats column) share every downstream stage:
    8-gram decontamination, md5 exact dedup, 512-token packing."""
    return (
        r"""
    WITH quality AS (
      SELECT doc_id, text FROM documents WHERE """
        + quality_where
        + r"""
    ), toks AS (
      SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t
      FROM quality WHERE trim(text) <> ''
    ), sh AS (
      SELECT doc_id, text,
             CASE WHEN len(t) >= 8 THEN
               list_distinct(list_transform(range(len(t) - 7),
                             i -> array_to_string(t[i+1:i+8], ' ')))
             ELSE [] END AS shingles,
             CAST(len(t) AS BIGINT) AS n_tok
      FROM toks
    ), ev AS (
      SELECT flatten(list(shingles)) AS evs FROM sh WHERE doc_id % 97 = 0
    ), decontaminated AS (
      SELECT sh.doc_id, sh.text, sh.n_tok FROM sh, ev
      WHERE sh.doc_id % 97 <> 0 AND NOT list_has_any(sh.shingles, ev.evs)
    ), deduped AS (
      SELECT doc_id, n_tok FROM (
        SELECT doc_id, n_tok,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM decontaminated
      ) WHERE rn = 1
    ), packed AS (
      SELECT doc_id, doc_id % 8 AS shard, n_tok,
             CAST(coalesce(sum(n_tok) OVER (
                      PARTITION BY doc_id % 8 ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS cum
      FROM deduped
    ), frags AS (
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


@register(
    "t_pretrain_pipeline",
    oracle=_pretrain_oracle("n_chars >= 100"),
    tags=("llm", "pipeline", "dedup", "packing", "bench:pipeline"),
)
def t_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining-data pipeline END-TO-END as ONE declarative
    plan: quality gate (n_chars >= 100, pushed to the scan) →
    8-gram test-set decontamination (drop the eval slice and anything
    colliding with it) → exact dedup (md5 fingerprint, keep lowest
    doc_id) → GPT-style sequence packing into 512-token fragments.
    Four pipeline stages, one Catalyst plan — the point of building
    the ops as DataFrame transformations is that composition is free:
    the optimizer sees through all four stages (the quality filter
    reaches the parquet scan UNDER the downstream joins/windows), and
    no intermediate corpus is ever materialized.

    Scale posture inherited from the component ops: broadcast eval
    shingles, doc_id-co-partitioned anti join, fingerprint groupBy,
    per-shard packing prefix sum via :func:`pack_fragments` (shard
    count defaults to cluster parallelism; pinned to 8 here for
    bit-exact oracle parity). The oracle chains the same stages
    as CTEs — every stage integer/hash-exact, so the composition is
    hash-checked end-to-end."""
    # Filter FIRST (pushed to the parquet scan), then fan out: the
    # tokenize/shingle stage is the pipeline's heavy string work and a
    # small fixture arrives as ONE partition — the same single-core
    # serialization the codec queries hit (the WARC variant of this
    # capstone reads 8 shards and ran 2× faster before this line).
    # No-op at real scale where the scan is already wide.
    quality = _with_tk(
        ensure_parallelism(
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "n_chars")
            .filter(F.col("n_chars") >= 100)
        )
    ).filter(F.size("tk") >= 1)
    return _pretrain_stages(quality)


def _pretrain_stages(quality: DataFrame) -> DataFrame:
    """Decontaminate → exact-dedup → pack, shared by the parquet and
    WARC capstones. ``quality`` carries (doc_id, text, tk) — the
    already-quality-gated corpus with its token array."""
    sh = quality.select(
        "doc_id",
        "text",
        F.size("tk").cast("long").alias("n_tok"),
        F.when(
            F.size("tk") >= 8,
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(tk) - 7),"
                    " i -> concat_ws(' ', slice(tk, i, 8)))"
                )
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("shingles"),
    )
    is_eval = F.col("doc_id") % 97 == 0
    eval_sh = (
        sh.filter(is_eval).select(F.explode("shingles").alias("s")).distinct()
    )
    train = sh.filter(~is_eval)
    contaminated = (
        train.select("doc_id", F.explode("shingles").alias("s"))
        .join(F.broadcast(eval_sh), "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = train.join(contaminated, "doc_id", "left_anti")
    # Hash BEFORE the dedup exchange: the keep-one only needs the
    # fingerprint, and projecting to (doc_id, n_tok, fp) first means
    # the shuffle moves 48-byte rows instead of documents — at corpus
    # scale that is the difference between shuffling fingerprints and
    # shuffling the corpus (Catalyst prunes unused columns but cannot
    # shrink `text` itself, which md5 consumes post-exchange).
    # Keep-one via groupBy min(doc_id) + join-back, not a window over
    # fp: the same hot-key de-skew as fingerprint_dedup/duplicate_spans
    # (VERDICT r07 "What's wrong #2") — one document duplicated 10⁸×
    # would otherwise sort in a single window task; min partial-
    # aggregates map-side and the join is AQE-skew-splittable.
    # (fp join is null-safe — md5(NULL) is NULL and plain equi-join
    # semantics would drop such rows; unreachable behind the length
    # gate, but the stage shouldn't rely on its caller. ADVICE r08.)
    hashed = clean.select("doc_id", "n_tok", F.md5("text").alias("fp"))
    canon = hashed.groupBy("fp").agg(F.min("doc_id").alias("__canon_id"))
    deduped = hashed.join(
        canon,
        hashed["fp"].eqNullSafe(canon["fp"])
        & (hashed["doc_id"] == canon["__canon_id"]),
        "left_semi",
    ).select("doc_id", "n_tok")
    return pack_fragments(deduped, n_shards=8, block=512)


@register(
    "s_warc_to_pretrain",
    oracle=_pretrain_oracle("length(text) >= 100"),
    tags=("llm", "pipeline", "warc", "dedup", "packing", "bench:additions_r6"),
)
def s_warc_to_pretrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INGEST capstone: raw web-crawl archive → training-ready
    packed sequences as one job — the end-to-end story a 100 TB
    pretraining user actually runs, composing the two halves this
    engine built separately: WARC ingest (``sources/warc.py``, E89 —
    gzip-member-per-record WET shards, Content-Length framing,
    idempotent distributed writes) and the curation pipeline
    (``t_pretrain_pipeline``, E81 — quality gate → 8-gram test-set
    decontamination → md5 exact dedup → 512-token GPT-style packing).

    The corpus is serialized to ``.warc.gz`` shards, read back
    through the binaryFile + mapInPandas parser (doc identity
    recovered from the record URI), then flows through the SHARED
    ``_pretrain_stages``. The quality gate is ``length(text) >= 100``
    because an archive carries no precomputed stats column — exactly
    what a real crawl drop looks like. The DuckDB oracle runs the
    same chain over the parquet originals, so a single flipped byte
    anywhere in the archive framing changes some document's text,
    which changes its md5 dedup class or token count, which breaks
    the end-to-end hash — the roundtrip and the curation are checked
    as ONE composition.

    Scale: shard count == read parallelism (gzip is unsplittable;
    chosen at write time), the parse is one Arrow pass per shard,
    and everything downstream is the capstone's plan — broadcast
    eval shingles, hash-aggregate dedup, per-shard packing prefix
    sums. No collects anywhere; the write-side manifest is the only
    driver-sized state."""
    import os

    from ..sources.warc import read_warc, write_warc_shards

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = f"/tmp/spark_graft_layout/{tag}/documents_warc_pretrain"
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
    back = read_warc(spark, path).select(
        F.regexp_extract("uri", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "text",
    )
    quality = _with_tk(back.filter(F.length("text") >= 100)).filter(
        F.size("tk") >= 1
    )
    return _pretrain_stages(quality)


@register(
    "d_prefix_filter_jaccard",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(string_split_regex(trim(text), '\s+')) AS s
      FROM documents WHERE trim(text) <> ''
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))),
                 4) AS jac
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
    """,
    tags=("llm", "dedup", "prefix-filter"),
)
def d_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prefix-filtering tier of the dedup ladder (All-Pairs /
    PPJoin family): exact word-set Jaccard ≥ 0.8 where only each
    document's rarest-first PREFIX tokens are indexed — sound (no
    false negatives, guaranteed by the prefix length) and far cheaper
    than the full inverted index, because common tokens never
    generate candidates. The oracle is the O(n²) brute force: the
    same complexity-class contrast the MinHash and n-gram tiers
    carry, here with zero approximation."""
    from ..operators.dedup import prefix_filter_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(docs, "text", "doc_id", threshold=0.8)


def _bpe_oracle_ctes(n_merges: int, top_words: int) -> str:
    """The shared DuckDB CTE chain that TRAINS the BPE merges: word
    dict → wrapped seq0 → K rounds of (pairs{i}, best{i}, seq{i}).

    Same algorithm, same wrapped-token representation, same literal
    ``replace`` merge application and (count DESC, pair) tie-break as
    :func:`..functions.text.bpe_train_merges` — an iterative trainer
    made fully hash-checkable by making each round's state transition
    a pure string expression. Pair extraction is list-slice + lockstep
    unnest (RE2 has no lookahead). Both the train oracle (final select
    over best{1..K}) and the apply oracle (corpus re-encode through
    best{1..K}) build on this prefix, so the two queries are checked
    against literally the same trained merges."""
    parts = [
        f"""WITH words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split_regex(
        lower(regexp_replace(text, '[^A-Za-z]+', ' ', 'g')), ' +')) AS word
    FROM documents)
  WHERE length(word) >= 2
  GROUP BY word ORDER BY cnt DESC, word LIMIT {top_words}
), seq0 AS (
  SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS seq, cnt FROM words)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f""", pairs{i} AS (
  SELECT p1, p2, CAST(sum(cnt) AS BIGINT) AS c FROM (
    SELECT unnest(toks[1:len(toks)-1]) AS p1,
           unnest(toks[2:len(toks)]) AS p2, cnt
    FROM (SELECT string_split(seq[2:len(seq)-1], ')(') AS toks, cnt
          FROM seq{i - 1})
    WHERE len(toks) >= 2)
  GROUP BY p1, p2
), best{i} AS (
  SELECT p1, p2, c FROM pairs{i} ORDER BY c DESC, p1, p2 LIMIT 1
), seq{i} AS (
  SELECT replace(seq, '(' || b.p1 || ')(' || b.p2 || ')',
                 '(' || b.p1 || b.p2 || ')') AS seq, cnt
  FROM seq{i - 1} CROSS JOIN best{i} b)"""
        )
    return "".join(parts)


def _bpe_train_oracle(n_merges: int, top_words: int) -> str:
    """Train oracle: the shared CTE chain + the merge-table select."""
    finals = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, p1 AS left_tok, "
        f"p2 AS right_tok, c FROM best{i}"
        for i in range(1, n_merges + 1)
    )
    return (
        _bpe_oracle_ctes(n_merges, top_words)
        + f" SELECT * FROM ({finals}) ORDER BY rank"
    )


def _bpe_apply_oracle(n_merges: int, top_words: int) -> str:
    """Apply oracle: re-train via the shared CTE chain, then encode
    EVERY document with the trained merges — the same wrapped-word
    representation and K literal replaces, applied to the whole
    space-joined doc string (merge patterns never span the space
    separator, so per-word and whole-doc application agree)."""
    parts = [
        _bpe_oracle_ctes(n_merges, top_words),
        r""", docw AS (
  SELECT doc_id,
         list_filter(string_split_regex(
             lower(regexp_replace(text, '[^A-Za-z]+', ' ', 'g')), ' +'),
           w -> w <> '') AS ws
  FROM documents
), enc0 AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(length(array_to_string(ws, '')) AS BIGINT) AS n_chars,
         array_to_string(list_transform(ws,
             w -> regexp_replace(w, '(.)', '(\1)', 'g')), ' ') AS s
  FROM docw
)""",
    ]
    for i in range(1, n_merges + 1):
        # LEFT JOIN ON TRUE, not CROSS JOIN: if a merge round runs dry
        # (tiny corpus exhausts mergeable pairs before K), best{i} is
        # empty and a cross join would annihilate every document —
        # whereas the Spark trainer breaks out of its loop and still
        # encodes the corpus. The NULL guard keeps both sides
        # degrading identically.
        parts.append(
            f""", enc{i} AS (
  SELECT doc_id, n_words, n_chars,
         CASE WHEN b.p1 IS NULL THEN s
              ELSE replace(s, '(' || b.p1 || ')(' || b.p2 || ')',
                           '(' || b.p1 || b.p2 || ')') END AS s
  FROM enc{i - 1} LEFT JOIN best{i} b ON TRUE)"""
        )
    parts.append(
        f"""
SELECT doc_id, n_words, n_chars,
       CAST(length(s) - length(replace(s, '(', '')) AS BIGINT)
         AS n_bpe_tokens
FROM enc{n_merges}"""
    )
    return "".join(parts)


_BPE_MERGES = 6
_BPE_TOP_WORDS = 200


@register(
    "t_bpe_train",
    oracle=_bpe_train_oracle(_BPE_MERGES, _BPE_TOP_WORDS),
    tags=("llm", "text", "iterative", "tokenizer", "bench:additions"),
)
def t_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016): learn the first
    K merge rules from the corpus — the third iterative family next
    to connected components and PageRank, and the one that builds the
    vocabulary ``t_bpe_tokens``-style tokenization then applies.

    Shape: ONE corpus-sized job (word count → dict, hash-aggregate
    with map-side combine, non-[a-z] stripped pre-lower so both
    engines agree on case folding), then K rounds over the
    VOCABULARY-sized dict — distributed pair-count + argmax per
    round, only the 1-row best pair collected (PageRank-style driver
    loop). The top-200-word cap makes the oracle cheap and the test
    deterministic; at 100 TB you drop the cap — iterations still run
    on the dict (millions of rows), never the corpus.

    The oracle unrolls the SAME K rounds as DuckDB CTEs — an
    iterative trainer with a full cross-engine hash check, not a
    rows-only concession."""
    docs = load_table(spark, sf_dir, "documents")
    merges = _train_bpe_merges(docs)
    return spark.createDataFrame(
        merges, schema="rank long, left_tok string, right_tok string, c long"
    )


def _train_bpe_merges(docs: DataFrame) -> list[tuple[int, str, str, int]]:
    """The shared train step for ``t_bpe_train`` / ``t_bpe_apply``:
    ONE corpus-sized word count (hash-aggregate, map-side combine)
    into the top-``_BPE_TOP_WORDS`` dict, then
    :func:`..functions.text.bpe_train_merges` over it."""
    from ..functions.text import bpe_train_merges

    words = (
        docs.select(
            F.explode(
                F.split(
                    F.lower(F.regexp_replace("text", "[^A-Za-z]+", " ")),
                    " +",
                )
            ).alias("word")
        )
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(_BPE_TOP_WORDS)
    )
    # The dict is the K-round working set: persist so the corpus
    # aggregation runs once, not once per merge round.
    words = words.persist()
    try:
        return bpe_train_merges(words, _BPE_MERGES)
    finally:
        words.unpersist()


def _make_bpe_encoder():
    """Factory for the document → wrapped-merged-string encoder shared
    by ``t_bpe_apply`` and the staged ``t_bpe_tokenize_ids``: ONE
    implementation of the convention every BPE oracle replays (strip
    ``[^A-Za-z]+`` → lower → wrap each word → rank-ordered literal
    replaces), so the two queries cannot desynchronize. ``<locals>``
    qualname ⇒ cloudpickle ships it BY VALUE inside mapInPandas
    closures (the ``sources/warc.py`` pattern); returns
    ``(words, encoded_string)``."""
    import re

    strip = re.compile(r"[^A-Za-z]+")

    def encode_doc(text, merge_pairs):
        ws = [w for w in strip.sub(" ", text or "").lower().split(" ") if w]
        s = " ".join("(" + ")(".join(w) + ")" for w in ws)
        for p1, p2 in merge_pairs:
            s = s.replace(f"({p1})({p2})", f"({p1}{p2})")
        return ws, s

    return encode_doc


@register(
    "t_bpe_apply",
    oracle=_bpe_apply_oracle(_BPE_MERGES, _BPE_TOP_WORDS),
    tags=("llm", "text", "tokenizer", "bench:additions_r6"),
)
def t_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION at corpus scale — the train→apply
    pair ``t_bpe_train`` started, and the single most-used operator
    in a real pretraining pipeline (every document gets encoded;
    training happens once).

    Shape: train the K merges (``_train_bpe_merges`` — corpus word
    count + dict-sized rounds), then ONE map-only pass over the
    corpus: the merge table travels to executors inside the
    mapInPandas closure (it is vocabulary-sized — the broadcast-a-
    dimension-table pattern; at 32k merges it is still < 1 MB), and
    each Arrow batch encodes its documents locally. No shuffle on the
    corpus-sized path, no driver round-trips after training.

    Encoding uses the SAME wrapped-token representation as training —
    words ``(h)(e)(l)(l)(o)`` space-joined per doc, K literal
    left-to-right replaces in rank order (merge patterns never span
    the space separator, so whole-doc replace == per-word replace) —
    which is what makes the corpus encode hash-checkable: the DuckDB
    oracle re-trains via the shared CTE chain and replays the
    identical replaces over every document. Output per doc: word
    count, base (char) token count, and post-merge BPE token count —
    integer-exact compression accounting.

    Scale: at a production 32k-merge vocab the K sequential
    str.replace passes are O(K·len) per batch — linear in corpus but
    linear in K too. The production tier exists:
    ``functions/text.make_bpe_word_encoder`` (rank-position pair-
    priority heap per unique word + LRU cache, K-independent,
    property-pinned bit-identical to this replace convention at K=40
    and A/B-benched at K=256..4096 in ``scripts/bench_bpe_encode.py``
    — BASELINE.md "Round 7"). Its returned closure is ``<locals>``-
    defined, so it ships by value into a mapInPandas closure exactly
    like this one (``tests/test_llm.py`` proves the worker path).
    The literal-replace form stays HERE because it is the exact
    convention the trainer optimizes and the cross-engine DuckDB
    check can replay. CPU-bound Python ⇒ ``ensure_parallelism`` fans
    small scans out (no-op at real scale)."""
    docs = load_table(spark, sf_dir, "documents")
    merge_pairs = [(p1, p2) for _, p1, p2, _ in _train_bpe_merges(docs)]
    encode_doc = _make_bpe_encoder()

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [],
                "n_words": [],
                "n_chars": [],
                "n_bpe_tokens": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ws, s = encode_doc(text, merge_pairs)
                out["doc_id"].append(int(doc_id))
                out["n_words"].append(len(ws))
                out["n_chars"].append(sum(len(w) for w in ws))
                out["n_bpe_tokens"].append(s.count("("))
            yield pd.DataFrame(out)

    return ensure_parallelism(docs.select("doc_id", "text")).mapInPandas(
        encode, "doc_id long, n_words long, n_chars long, n_bpe_tokens long"
    )


@register(
    "d_phash_neardup",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r FROM documents
    ),
    blk AS (
      SELECT doc_id, g, r, unnest(generate_series(0, 63)) AS b FROM d
    ),
    pert AS (
      -- value of block b = BASE value at its swap partner: for
      -- r > 0 blocks 2r-2 and 2r-1 trade values (mean-preserving
      -- perturbation), every other block keeps its own. The base
      -- mask is md5-keyed per (group, block) — identical in Python
      -- hashlib — so distinct groups collide with probability
      -- ~Binomial(64, 1/2) ≤ 3, i.e. never.
      SELECT doc_id, b,
             CASE WHEN substr(md5(CAST(g AS VARCHAR) || '_' ||
                        CAST((CASE WHEN r > 0 AND b = 2*r - 2 THEN 2*r - 1
                                   WHEN r > 0 AND b = 2*r - 1 THEN 2*r - 2
                                   ELSE b END) AS VARCHAR)), 1, 1) < '8'
                  THEN 40 ELSE 216 END AS v
      FROM blk
    ),
    bits AS (
      SELECT doc_id, b,
             CASE WHEN 64 * v > sum(v) OVER (PARTITION BY doc_id)
                  THEN 1 ELSE 0 END AS bit
      FROM pert
    )
    SELECT a.doc_id AS a_id, bb.doc_id AS b_id,
           CAST(sum(CASE WHEN a.bit <> bb.bit THEN 1 ELSE 0 END)
                AS BIGINT) AS hamming
    FROM bits a JOIN bits bb ON a.b = bb.b AND a.doc_id < bb.doc_id
    GROUP BY a.doc_id, bb.doc_id
    HAVING sum(CASE WHEN a.bit <> bb.bit THEN 1 ELSE 0 END) <= 3
    """,
    tags=("llm", "dedup", "multimodal", "phash", "bench:additions_r6"),
)
def d_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup — ties the codec ladder (E62/E86/E91)
    to the dedup ladder (E8): decoded image → blockwise aHash (64-bit
    average hash: bit b set iff block b's mean exceeds the image
    mean) → Hamming-ball pairs via the SAME 4×16-bit banding engine
    the SimHash text tier uses (``operators/dedup.py:
    hamming_neardup_pairs`` — exact for radius ≤ 3 by pigeonhole).

    Payloads are synthetic but the DECODE IS REAL: per doc a 32×32
    grayscale image of 64 constant 4×4 blocks (aHash only ever looks
    at the 8×8 block-mean grid, so block pixel count is free to be
    small — the bit rule ``64·blocksum > imagesum`` is block-size
    invariant, which is also why the oracle needs no pixel counts;
    base block values = an
    md5-keyed pattern of dark 40 / light 216 per group of four docs —
    cross-group hashes collide with probability ~P[Binom(64,½) ≤ 3],
    never; docs 1-3 of each group swap one adjacent block pair — a
    mean-preserving perturbation, so near-dups differ by exactly the
    swapped bits) is PNG-encoded with cycling filter types and
    decoded back through the full DEFLATE + unfilter codec before
    hashing — a codec bug changes some block sum, which flips aHash
    bits, which breaks the pair set. The DuckDB oracle recomputes the
    hashes closed-form and brute-forces ALL pairs (O(n²)·64), so it
    also proves the banding generated every qualifying pair — the
    same complexity-class contrast the MinHash tier carries.

    Scale: hashing is one Arrow pass (ensure_parallelism fans the
    CPU-bound decode out; no-op at real width); the banded self-join
    is skew-free (near-uniform 16-bit keys); candidates are bounded
    by band collisions, never corpus². The aHash-over-decoded-pixels
    shape is exactly how production image dedup runs (aHash/pHash →
    Hamming LSH), with the DCT of pHash swappable into the same
    pipeline."""
    from turnover_odata_etl_spark.functions.multimodal import (
        _decode_png as png_decode,
        encode_png as png_encode,
    )

    from ..operators.dedup import hamming_neardup_pairs

    def ahash_sigs(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "sig": [], "bands": []}
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                g, r = did // 4, did % 4
                order = list(range(64))
                if r > 0:
                    order[2 * r - 2], order[2 * r - 1] = (
                        2 * r - 1,
                        2 * r - 2,
                    )
                vals = np.array(
                    [
                        40
                        if hashlib.md5(f"{g}_{p}".encode()).hexdigest()[0]
                        < "8"
                        else 216
                        for p in order
                    ],
                    dtype=np.uint8,
                )
                img = np.repeat(
                    np.repeat(vals.reshape(8, 8), 4, axis=0), 4, axis=1
                )
                rgb = np.stack([img, img, img], axis=-1)
                dec = png_decode(png_encode(rgb, [0, 1, 2, 3, 4]))
                gray = dec[:, :, 0].astype(np.int64)
                bsums = gray.reshape(8, 4, 8, 4).sum(axis=(1, 3)).ravel()
                total = int(bsums.sum())
                sig = 0
                for b in range(64):
                    if 64 * int(bsums[b]) > total:
                        sig |= 1 << b
                out["doc_id"].append(did)
                out["sig"].append(
                    sig - (1 << 64) if sig >= (1 << 63) else sig
                )
                out["bands"].append(
                    [(sig >> (16 * k)) & 0xFFFF for k in range(4)]
                )
            yield pd.DataFrame(out)

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    sigs = docs.mapInPandas(
        ahash_sigs, "doc_id long, sig long, bands array<long>"
    )
    return hamming_neardup_pairs(sigs, max_hamming=3)
