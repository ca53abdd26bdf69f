"""Round-6 staging area, ACTIVATED in round 7.

These three queries were built and oracle-tested in round 6 but held
out of the registry so the round-6 gate window (which closed the
driver-verification ledger) kept its exact composition. The round-6
verdict ruled on the cap question this module used to carry:
"register all three; the cap moves to 181 and freezes there"
(VERDICT r06, What's wrong #3). So round 7 imports this module from
``plans/__init__`` and registers all three —
``m_png_adam7_decode_features``, ``m_adpcm_decode_features``,
``t_bpe_tokenize_ids`` (registry 178 → 181, frozen) — each with an
immediate slot in the round-7 gate window.
``tests/test_roundseven.py`` keeps the direct DuckDB checks as a
second net alongside ``tests/test_oracle_parity``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..tables import ensure_parallelism, load_table
from .registry import register

# Identical closed-form oracle to m_png_decode_features: the Adam7
# variant must decode to the SAME pixels, so the same sums hold —
# but reaching them exercises the interlaced path end-to-end
# (seven-pass deinterleave, per-pass filter-state reset, empty-pass
# byte accounting). A single wrong pass offset breaks the hash.
PNG_ADAM7_ORACLE = """
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
"""


@register(
    "m_png_adam7_decode_features",
    oracle=PNG_ADAM7_ORACLE,
    tags=("llm", "multimodal", "png", "bench:additions_r7"),
)
def m_png_adam7_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adam7-INTERLACED PNG decode → resize → features (round 6 built
    interlace into the codec; this query oracle-checks the layout at
    query level). Same closed-form pixel pattern and oracle as
    ``m_png_decode_features`` — identical sums, but the worker must
    reassemble seven independently-filtered pass sub-images (with the
    per-pass filter cycle restart and empty-pass handling) to reach
    them. Geometries 16–24 px guarantee every image has non-trivial
    passes AND (via w%8, h%8 spread) exercises partial passes.

    Scale posture: identical to the sequential PNG query — one Arrow
    batch stream, ensure_parallelism fan-out, no shuffle."""
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
                data = png_encode(img, [0, 1, 2, 3, 4], interlace=True)
                dec = png_decode(data)  # seven-pass deinterleave
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

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    return docs.mapInPandas(
        decode_features,
        "doc_id long, width long, height long, sum_r long, sum_g long, "
        "sum_b long",
    )


def _bpe_tokenize_oracle(n_merges: int, top_words: int, sample_mod: int) -> str:
    """Oracle for the exploded tokenizer output: re-train via the
    shared CTE chain (``plans/llm._bpe_oracle_ctes``), re-encode the
    sampled documents with the same K replaces, then zip-unnest each
    parenthesized token with its 1-based position (DuckDB's multiple
    unnests in one SELECT iterate in lockstep; WITH ORDINALITY is not
    implemented there)."""
    from .llm import _bpe_oracle_ctes

    parts = [
        _bpe_oracle_ctes(n_merges, top_words),
        rf""", docw AS (
  SELECT doc_id,
         list_filter(string_split_regex(
             lower(regexp_replace(text, '[^A-Za-z]+', ' ', 'g')), ' +'),
           w -> w <> '') AS ws
  FROM documents WHERE doc_id % {sample_mod} = 0
), enc0 AS (
  SELECT doc_id,
         array_to_string(list_transform(ws,
             w -> regexp_replace(w, '(.)', '(\1)', 'g')), ' ') AS s
  FROM docw
)""",
    ]
    for i in range(1, n_merges + 1):
        # LEFT JOIN ON TRUE + NULL guard, matching _bpe_apply_oracle:
        # a dry merge round (empty best{i}) must not annihilate the
        # corpus the way a cross join would.
        parts.append(
            f""", enc{i} AS (
  SELECT doc_id,
         CASE WHEN b.p1 IS NULL THEN s
              ELSE replace(s, '(' || b.p1 || ')(' || b.p2 || ')',
                           '(' || b.p1 || b.p2 || ')') END AS s
  FROM enc{i - 1} LEFT JOIN best{i} b ON TRUE)"""
        )
    parts.append(
        f"""
, tk AS (
  SELECT doc_id, regexp_extract_all(s, '\\(([^)]*)\\)', 1) AS toks
  FROM enc{n_merges}
)
SELECT doc_id,
       CAST(unnest(generate_series(1, len(toks))) AS BIGINT) AS pos,
       unnest(toks) AS token
FROM tk WHERE len(toks) > 0"""
    )
    return "".join(parts)


# Pinned knobs mirror t_bpe_train/t_bpe_apply; the doc sample keeps
# the exploded oracle comparison bounded (every ~16th document).
# The oracle constant is built EAGERLY so the activation checklist
# ("pass the oracle constants below") cannot accidentally register
# the query with oracle=None.
_TOKENIZE_SAMPLE_MOD = 16


def _build_tokenize_oracle() -> str:
    from .llm import _BPE_MERGES, _BPE_TOP_WORDS

    return _bpe_tokenize_oracle(
        _BPE_MERGES, _BPE_TOP_WORDS, _TOKENIZE_SAMPLE_MOD
    )


BPE_TOKENIZE_ORACLE = _build_tokenize_oracle()


@register(
    "t_bpe_tokenize_ids",
    oracle=BPE_TOKENIZE_ORACLE,
    tags=("llm", "text", "bpe", "bench:additions_r7"),
)
def t_bpe_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's REAL output: the ordered token sequence per
    document — ``(doc_id, pos, token)`` — not just counts. Completes
    the BPE family: train (t_bpe_train) → corpus stats (t_bpe_apply)
    → sequences (this query), which is the actual input a training
    run consumes (ids are a dictionary lookup away from tokens).

    Shape: same train-once + one Arrow encode pass as ``t_bpe_apply``
    (merge table in the closure, no corpus shuffle); the explode is
    map-side. Every ``_TOKENIZE_SAMPLE_MOD``-th document is emitted so
    the O(corpus tokens) oracle comparison stays bounded — the Spark
    side is identical for the full corpus (drop the filter).

    Oracle: re-train via the shared CTE chain, replay the replaces,
    unnest parenthesized tokens WITH ORDINALITY."""
    from pyspark.sql import functions as F

    from .llm import _make_bpe_encoder, _train_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merge_pairs = [(p1, p2) for _, p1, p2, _ in _train_bpe_merges(docs)]
    # ONE encode convention, shared with t_bpe_apply (the factory's
    # <locals> qualname ships it by value into the closure).
    encode_doc = _make_bpe_encoder()

    def encode(batches):
        import re

        import pandas as pd

        tok_re = re.compile(r"\(([^)]*)\)")
        for pdf in batches:
            out = {"doc_id": [], "pos": [], "token": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                _ws, s = encode_doc(text, merge_pairs)
                for pos, tok in enumerate(tok_re.findall(s), start=1):
                    out["doc_id"].append(int(doc_id))
                    out["pos"].append(pos)
                    out["token"].append(tok)
            yield pd.DataFrame(out)

    sampled = ensure_parallelism(
        docs.select("doc_id", "text").filter(
            F.col("doc_id") % _TOKENIZE_SAMPLE_MOD == 0
        )
    )
    return sampled.mapInPandas(
        encode, "doc_id long, pos long, token string"
    )


# Closed-form oracle for a LOSSY adaptive codec: per-BLOCK-constant
# signals are ADPCM's exactness domain — each block header re-syncs
# the predictor to the true value, every in-block diff is 0 → nibble
# 0 → reconstruction delta = step>>3 = 0 at step-index 0 (step 7),
# and nibble 0 keeps the index clamped at 0 forever. So the decoded
# signal equals the input EXACTLY, while the Spark side still runs
# the FULL nibble encode + adaptive reconstruction — any state-
# machine bug (index drift, nibble order, header parse) breaks the
# hash. Same pattern as the JPEG query's quantization-aligned tiles.
ADPCM_ORACLE = """
    WITH d AS (SELECT doc_id, 4 + doc_id % 3 AS nb FROM documents),
    b AS (
      SELECT doc_id, unnest(generate_series(0, nb - 1)) AS blk FROM d
    ),
    v AS (
      SELECT doc_id, blk,
             ((doc_id * 37 + blk * 101) % 60000) - 30000 AS val
      FROM b
    )
    SELECT doc_id,
           CAST(blk AS BIGINT) AS frame_idx,
           CAST(101 AS BIGINT) AS n_samples,
           CAST(101 * val AS BIGINT) AS sum_s,
           CAST(val AS BIGINT) AS min_s,
           CAST(val AS BIGINT) AS max_s
    FROM v
"""


@register(
    "m_adpcm_decode_features",
    oracle=ADPCM_ORACLE,
    tags=("llm", "multimodal", "audio", "adpcm", "bench:additions_r7"),
)
def m_adpcm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-audio decode → framed features through the REAL
    IMA ADPCM codec (``functions/multimodal``: block header re-sync,
    adaptive-step nibble reconstruction) — the audio ladder's
    compressed rung made oracle-checkable via the codec's exactness
    domain (see ADPCM_ORACLE note).

    Per document: (4 + doc_id%3) blocks of 101 constant int16 samples
    (values spread across ±30000), IMA-ADPCM-encoded at
    block_samples=101 and decoded back; frames align with blocks so
    the per-frame count/sum/min/max are integers the oracle
    recomputes arithmetically.

    Scale posture: identical to ``m_wav_decode_features`` — one Arrow
    batch stream, CPU-bound decode fanned by ensure_parallelism,
    1→N frame expansion inside the batch, no shuffle."""
    from turnover_odata_etl_spark.functions.multimodal import (
        decode_wav as wav_decode,
        encode_wav_adpcm as adpcm_encode,
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
                nb = 4 + did % 3
                vals = np.array(
                    [
                        ((did * 37 + b * 101) % 60000) - 30000
                        for b in range(nb)
                    ],
                    dtype=np.int16,
                )
                sig = np.repeat(vals, 101)
                dec, _rate = wav_decode(
                    adpcm_encode(sig, block_samples=101)
                )
                s = dec[:, 0].astype(np.int64)
                frames = s.reshape(nb, 101)
                out["doc_id"].extend([did] * nb)
                out["frame_idx"].extend(range(nb))
                out["n_samples"].extend([101] * nb)
                out["sum_s"].extend(frames.sum(axis=1).tolist())
                out["min_s"].extend(frames.min(axis=1).tolist())
                out["max_s"].extend(frames.max(axis=1).tolist())
            yield pd.DataFrame(out)

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    return docs.mapInPandas(
        decode_features,
        "doc_id long, frame_idx long, n_samples long, sum_s long, "
        "min_s long, max_s long",
    )
