"""Round-5 staging area, ACTIVATED in round 6.

The baseline-JPEG decode query was built and oracle-tested in round 5
but held out of the registry to honor the r04 verdict's inventory
freeze (capped at 174 through round 5). Round 6 activates it per the
checklist this docstring used to carry: the module is imported by
``plans/__init__`` and :func:`m_jpeg_decode_features` is registered
(registry 174 → 175) with a slot in the rotated gate window.
``tests/test_roundsix.py`` keeps its direct DuckDB check as a second
net alongside ``tests/test_oracle_parity``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..tables import ensure_parallelism, load_table
from .registry import register

# Closed-form oracle for a LOSSY codec: the payload generator only
# emits images inside decode_jpeg's exactness domain — uniform
# 8×8-aligned tiles, R=G=B (Cb=Cr=128 exactly, no chroma rounding),
# tile value v with (v−128) even so the level-shifted DC (8·(v−128))
# divides the quant step 16 (tests/test_jpeg.py pins this property:
# uniform-tile and checkerboard roundtrips are bit-exact). Inside that
# domain decode is exact, so the oracle can recompute the decoded
# sums arithmetically — while the Spark side still runs the FULL
# entropy-decode + dequant + IDCT pipeline, so any codec bug (Huffman
# table, DC prediction chain, zigzag order, IDCT scale) breaks the
# hash match.
JPEG_ORACLE = """
    WITH d AS (
      SELECT doc_id,
             2 + doc_id % 2 AS tiles_y,
             2 + doc_id % 3 AS tiles_x
      FROM documents
    ),
    t AS (
      SELECT d.doc_id, d.tiles_y, d.tiles_x, ty.i AS ty, tx.i AS tx,
             2 * ((d.doc_id * 7 + ty.i * 13 + tx.i * 29) % 128) AS v
      FROM d
      JOIN (SELECT unnest(generate_series(0, 2)) AS i) ty ON ty.i < d.tiles_y
      JOIN (SELECT unnest(generate_series(0, 3)) AS i) tx ON tx.i < d.tiles_x
    )
    SELECT doc_id,
           CAST(max(tiles_x) * 8 AS BIGINT) AS width,
           CAST(max(tiles_y) * 8 AS BIGINT) AS height,
           CAST(sum(v) * 64 AS BIGINT) AS sum_r,
           CAST(sum(v * (ty * 8 + tx + 1)) * 64 AS BIGINT) AS checksum
    FROM t GROUP BY doc_id
"""


@register(
    "m_jpeg_decode_features",
    oracle=JPEG_ORACLE,
    tags=("llm", "multimodal", "jpeg", "bench:additions_r6"),
)
def m_jpeg_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG decode → features through the REAL codec
    (functions/jpeg.py: marker walk, canonical Huffman, DC prediction,
    zigzag dequant, separable IDCT) — the compressed-image ladder's
    third rung after PPM/BMP and PNG.

    Per document: a (2+doc_id%2)×(2+doc_id%3) grid of uniform 8×8
    tiles, R=G=B, tile values 2·((doc_id·7+ty·13+tx·29) mod 128) —
    the codec's PROVEN exactness domain (see JPEG_ORACLE note) — is
    JPEG-encoded at quant 16, entropy-decoded back, and reduced to
    exact integer features (full-image channel sum + a
    position-weighted checksum that catches tile transposition).

    Worker shipping: functions/jpeg.py is a module-level API with
    shared helpers (_DCT_M, _ZIGZAG, _BitReader), so instead of the
    factory pattern the whole module is registered for BY-VALUE
    cloudpickle serialization — executors never import the package
    (verified from a /tmp-driven session). The registration is
    process-global and idempotent.

    Scale: same posture as the PNG/WAV queries — ensure_parallelism
    fans the doc_id frame out (decode is CPU-bound Python), one Arrow
    batch stream, no shuffle."""
    from pyspark import cloudpickle

    from ..functions import jpeg as jpeg_mod

    cloudpickle.register_pickle_by_value(jpeg_mod)
    enc, dec = jpeg_mod.encode_jpeg_baseline, jpeg_mod.decode_jpeg

    def decode_features(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                k: []
                for k in ("doc_id", "width", "height", "sum_r", "checksum")
            }
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                tiles_y, tiles_x = 2 + did % 2, 2 + did % 3
                h, w = tiles_y * 8, tiles_x * 8
                img = np.zeros((h, w, 3), dtype=np.uint8)
                for ty in range(tiles_y):
                    for tx in range(tiles_x):
                        v = 2 * ((did * 7 + ty * 13 + tx * 29) % 128)
                        img[ty * 8 : ty * 8 + 8, tx * 8 : tx * 8 + 8, :] = v
                d = dec(enc(img, quant_luma=16)).astype(np.int64)
                r = d[:, :, 0]
                # position weight per PIXEL's tile: ty*8 + tx + 1
                ty_grid = np.arange(h)[:, None] // 8
                tx_grid = np.arange(w)[None, :] // 8
                weight = ty_grid * 8 + tx_grid + 1
                out["doc_id"].append(did)
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(int(r.sum()))
                out["checksum"].append(int((r * weight).sum()))
            yield pd.DataFrame(out)

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    return docs.mapInPandas(
        decode_features,
        "doc_id long, width long, height long, sum_r long, checksum long",
    )
