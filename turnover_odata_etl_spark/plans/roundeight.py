"""Round-8 registrations — built and oracle-tested in round 7, staged
behind the round-6 registry freeze, ACTIVATED in round 8 per the
round-7 verdict's cap ruling ("the freeze is lifted — register all
nine; the cap moves to 191 and freezes there"). Same lifecycle as
``roundsix.py``/``roundseven.py``: the module registers its queries at
import time and every one sits in the round-8 gate window.

All nine queries cover capabilities that are otherwise
query-invisible: ``m_gif_decode_features`` is the only end-to-end
exercise of the GIF LZW decode path (round 7 codec),
``s_snapshot_pruned_read`` the only exercise of the manifest-stat
pruned point-lookup (``SnapshotTable.read_keys``),
``m_g711_decode_features`` the only end-to-end exercise of the G.711
companded-audio decode, ``m_flac_decode_features`` the only
end-to-end exercise of the FLAC entropy-coded lossless audio path
(round 7, ``functions/flac.py``), ``m_tiff_decode_features`` the
only end-to-end exercise of the TIFF container path (round 7,
``functions/tiff.py`` — PackBits + early-change TIFF-LZW, both byte
orders), ``s_snapshot_changes`` the only exercise of the
manifest-diff CDC read (``SnapshotTable.changes``),
``s_snapshot_incremental_agg`` the only exercise of CDF-pre-image
aggregate maintenance (``incremental.apply_cdc_to_agg``),
``d_exact_substr_spans`` the only exercise of the span-level
exact-substring dedup (``operators/dedup.duplicate_spans``), and
``m_mixed_image_decode_features`` the only end-to-end exercise of
the UNIFIED six-format ``decode_image`` dispatch (one format-blind
oracle over PPM/BMP/PNG/GIF/JPEG/TIFF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..tables import ensure_parallelism, load_table
from .registry import register

# Closed-form oracle for a LOSSLESS codec: palette colors and index
# grid are deterministic functions of (doc_id, x, y), so the decoded
# sums are integer arithmetic the oracle recomputes — while the Spark
# side runs the FULL GIF pipeline (palette write, LZW compress,
# sub-block framing, LZW decompress, interlace reorder on odd doc_ids,
# palette lookup). Any LZW width-bump / dictionary / interlace bug
# breaks the hash.
GIF_ORACLE = """
    WITH d AS (SELECT doc_id,
                      12 + doc_id % 9 AS w,
                      12 + doc_id % 7 AS h,
                      4 + doc_id % 13 AS n
               FROM documents),
    g AS (SELECT unnest(generate_series(0, 20)) AS i),
    px AS (
      SELECT d.doc_id, d.w, d.h,
             (d.doc_id + 3 * gx.i + 5 * gy.i) % d.n AS ci
      FROM d
      JOIN g gx ON gx.i < d.w
      JOIN g gy ON gy.i < d.h
    )
    SELECT doc_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum((doc_id * 3 + ci * 7) % 256) AS BIGINT) AS sum_r,
           CAST(sum((doc_id * 5 + ci * 11) % 256) AS BIGINT) AS sum_g,
           CAST(sum((doc_id * 7 + ci * 13) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
"""


@register(
    "m_gif_decode_features",
    oracle=GIF_ORACLE,
    tags=("llm", "multimodal", "gif", "bench:additions_r8"),
)
def m_gif_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF decode → features through the REAL codec (round 7:
    variable-width LZW with CLEAR/EOI and the 4096 cap, sub-block
    framing, 4-pass interlace on odd doc_ids, palette lookup) — the
    compressed-palette rung of the image ladder made oracle-checkable
    (GIF is lossless, so the whole pixel space is the exactness
    domain; cf. the quantization-aligned JPEG and per-block-constant
    ADPCM oracles).

    Per document: a (12+doc_id%9) × (12+doc_id%7) grid over a
    (4+doc_id%13)-color deterministic palette, encoded with the
    repo's LZW encoder and decoded back through ``decode_image``'s
    magic-byte dispatch.

    Scale posture: identical to the other codec queries — one Arrow
    batch stream, CPU-bound decode fanned by ``ensure_parallelism``,
    no shuffle.

    Worker shipping: ``decode_image`` is a MODULE-LEVEL dispatch (not
    a factory-made ``<locals>`` function like the codecs it calls),
    so it pickles by reference unless the module is registered for
    by-value serialization — caught by a /tmp-driven bench run where
    workers cannot import the package (the exact trap the verify
    skill documents); same fix as the jpeg query."""
    from turnover_odata_etl_spark.functions import multimodal as mm_mod

    mm_mod.register_codecs_by_value()
    gif_decode, gif_encode = mm_mod.decode_image, mm_mod.encode_gif

    def decode_features(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                k: []
                for k in ("doc_id", "width", "height", "sum_r", "sum_g",
                          "sum_b")
            }
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                w, h = 12 + did % 9, 12 + did % 7
                n = 4 + did % 13
                i = np.arange(n)
                pal = np.stack(
                    [
                        (did * 3 + i * 7) % 256,
                        (did * 5 + i * 11) % 256,
                        (did * 7 + i * 13) % 256,
                    ],
                    axis=1,
                ).astype(np.uint8)
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                idx = ((did + 3 * x + 5 * y) % n).astype(np.uint8)
                data = gif_encode(idx, pal, interlace=bool(did % 2))
                dec = gif_decode(data).astype(np.int64)
                out["doc_id"].append(did)
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(int(dec[:, :, 0].sum()))
                out["sum_g"].append(int(dec[:, :, 1].sum()))
                out["sum_b"].append(int(dec[:, :, 2].sum()))
            yield pd.DataFrame(out)

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    return docs.mapInPandas(
        decode_features,
        "doc_id long, width long, height long, sum_r long, sum_g long, "
        "sum_b long",
    )


# Oracle: keep-latest over ALL events, filtered to the lookup keys —
# exactly what the pruned read must return; the Spark side opens only
# the requested keys' bucket files (asserted separately in
# tests/test_snapshot.py; here the ORACLE pins the values).
SNAPSHOT_PRUNED_ORACLE = """
    WITH latest AS (
      SELECT user_id, event_id, event_type, value FROM events e
      WHERE event_id = (SELECT max(event_id) FROM events e2
                        WHERE e2.user_id = e.user_id)
    )
    SELECT user_id, event_id, event_type, value
    FROM latest WHERE user_id % 17 = 0
"""


@register(
    "s_snapshot_pruned_read",
    oracle=SNAPSHOT_PRUNED_ORACLE,
    tags=("storage", "snapshot", "bench:additions_r8"),
)
def s_snapshot_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stat PRUNED point lookup on a snapshot table — the
    read path that makes the snapshot layer (round 7, E95) useful for
    serving: build the keyed keep-latest table in two commits, then
    ``read_keys`` a key subset. The manifest's per-file ``bucket``
    stats prune the scan to the requested keys' buckets (file-level
    pruning — Iceberg's partition-stats read in miniature); the
    oracle pins the VALUES (keep-latest over everything, filtered),
    while tests/test_snapshot.py pins that pruning actually opens
    fewer files.

    Scale: the lookup's cost is O(|keys| + matched buckets), never
    O(table) — at 100 TB a point lookup opens ~1/n_buckets of the
    files."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from ..storage import SnapshotTable
    from ..tables import load_table

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/snapshot_pruned"
    shutil.rmtree(base, ignore_errors=True)

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    max_id = ev.agg(F.max("event_id")).first()[0]
    mid = int(max_id) // 2 if max_id is not None else 0  # empty-safe
    table = SnapshotTable(
        spark, f"{base}/table", key_cols=["user_id"],
        order_col="event_id", n_buckets=8,
    )
    table.merge(ev.filter(F.col("event_id") <= mid))
    table.merge(ev.filter(F.col("event_id") > mid))
    keys = [
        r["user_id"]
        for r in ev.select("user_id")
        .filter(F.col("user_id") % 17 == 0)
        .distinct()
        .collect()
    ]  # lookup-key set: bounded, the caller's input in a real lookup
    if not keys:
        return table.read().limit(0)
    return table.read_keys(keys).select(
        "user_id", "event_id", "event_type", "value"
    )


def _g711_oracle() -> str:
    """Oracle for the G.711 decode query: the 256-entry expansion
    tables are inlined as VALUES lists (they are pinned to the
    published Sun/ITU reference points by
    ``tests/test_llm.py::test_g711_companded_audio`` — the oracle's
    job here is the END-TO-END path: RIFF chunk walk, format-tag
    dispatch, payload gather, per-doc aggregation), joined against
    the deterministic per-doc byte pattern."""
    from ..functions.multimodal import _alaw_table, _mulaw_table

    mu = ",".join(f"({i},{int(v)})" for i, v in enumerate(_mulaw_table()))
    al = ",".join(f"({i},{int(v)})" for i, v in enumerate(_alaw_table()))
    return f"""
    WITH mu(code, val) AS (VALUES {mu}),
         al(code, val) AS (VALUES {al}),
    d AS (SELECT doc_id, 64 + doc_id % 17 AS nb FROM documents),
    b AS (SELECT doc_id, unnest(generate_series(0, nb - 1)) AS i FROM d),
    c AS (SELECT doc_id, (doc_id * 13 + i * 29) % 256 AS code FROM b),
    v AS (SELECT c.doc_id,
                 CASE WHEN c.doc_id % 2 = 0 THEN mu.val ELSE al.val END AS s
          FROM c JOIN mu ON mu.code = c.code JOIN al ON al.code = c.code)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(s) AS BIGINT) AS sum_s,
           CAST(min(s) AS BIGINT) AS min_s,
           CAST(max(s) AS BIGINT) AS max_s
    FROM v GROUP BY doc_id
"""


G711_ORACLE = _g711_oracle()


@register(
    "m_g711_decode_features",
    oracle=G711_ORACLE,
    tags=("llm", "multimodal", "audio", "g711", "bench:additions_r8"),
)
def m_g711_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 companded-audio decode → features through the REAL
    decoder (round 7): per document a deterministic byte pattern is
    framed as a RIFF/WAVE stream — format tag 7 (µ-law) on even
    doc_ids, 6 (A-law) on odd — and decoded through the full chunk
    walk + expansion-table gather. The WAV container is assembled
    INLINE (bytes are the codes themselves), so the query exercises
    decode only; the oracle replays the expansion via inlined VALUES
    tables (see ``_g711_oracle``).

    Scale posture: identical to the other codec queries — one Arrow
    batch stream, ensure_parallelism fan-out, no shuffle."""
    from turnover_odata_etl_spark.functions.multimodal import (
        decode_wav as wav_decode,
    )

    def decode_features(batches):
        import struct

        import numpy as np
        import pandas as pd

        def wrap(payload: bytes, tag: int) -> bytes:
            fmt = struct.pack("<HHIIHH", tag, 1, 8000, 8000, 1, 8)
            chunks = (
                b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(payload)) + payload
                + (b"\x00" if len(payload) & 1 else b"")
            )
            return (
                b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE"
                + chunks
            )

        for pdf in batches:
            out = {
                k: [] for k in ("doc_id", "n_samples", "sum_s", "min_s",
                                "max_s")
            }
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                nb = 64 + did % 17
                codes = bytes(
                    (did * 13 + i * 29) % 256 for i in range(nb)
                )
                tag = 7 if did % 2 == 0 else 6
                dec, _rate = wav_decode(wrap(codes, tag))
                s = dec[:, 0].astype(np.int64)
                out["doc_id"].append(did)
                out["n_samples"].append(int(s.size))
                out["sum_s"].append(int(s.sum()))
                out["min_s"].append(int(s.min()))
                out["max_s"].append(int(s.max()))
            yield pd.DataFrame(out)

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    return docs.mapInPandas(
        decode_features,
        "doc_id long, n_samples long, sum_s long, min_s long, max_s long",
    )


# Closed-form oracle for a LOSSLESS entropy-coded codec: the signal
# is a deterministic integer function of (doc_id, i), so the decoded
# aggregates are integer arithmetic the oracle recomputes — while the
# Spark side runs the FULL FLAC pipeline (fixed/LPC prediction, rice
# partitioning, stereo decorrelation, CRC-8/16, STREAMINFO MD5
# verification on decode). Any rice/predictor/decorrelation bit bug
# breaks the hash.
FLAC_ORACLE = """
    WITH d AS (SELECT doc_id, 96 + doc_id % 33 AS n FROM documents),
    s AS (
      SELECT d.doc_id, g.i,
             ((d.doc_id * 31 + g.i * g.i * 7) % 4001) - 2000 AS l
      FROM d JOIN (SELECT unnest(generate_series(0, 128)) AS i) g
        ON g.i < d.n
    ),
    lr AS (
      SELECT doc_id, l, l + (doc_id + i * 3) % 7 - 3 AS r FROM s
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(l) AS BIGINT) AS sum_l,
           CAST(sum(r) AS BIGINT) AS sum_r,
           CAST(min(l) AS BIGINT) AS min_l,
           CAST(max(r) AS BIGINT) AS max_r
    FROM lr GROUP BY doc_id
"""


@register(
    "m_flac_decode_features",
    oracle=FLAC_ORACLE,
    tags=("llm", "multimodal", "audio", "flac", "bench:additions_r8"),
)
def m_flac_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC decode → features through the REAL codec (round 7,
    ``functions/flac.py``: frame sync + CRC-8 header walk, fixed AND
    Levinson-Durbin LPC prediction, rice/rice2 partitioned residuals,
    all four stereo channel assignments, per-frame CRC-16, STREAMINFO
    MD5 over the reassembled PCM) — the lossless-COMPRESSION rung of
    the audio ladder after PCM (E87), IMA ADPCM (E87/round 6-7) and
    G.711 (round 7). FLAC is the audio analogue of PNG: decode must
    be bit-exact, so the whole sample space is the exactness domain.

    Per document: a 96+doc_id%33-sample stereo signal (quadratic
    left channel, near-copy right channel) is FLAC-encoded with
    doc-varying stream features — stereo mode cycles through all four
    assignments by doc_id%4, LPC subframes on doc_id%5==0, rice
    partition order 1 on odd doc_ids, rice2 coding on doc_id%7==0 —
    then decoded back and reduced to exact integer aggregates. The
    encode options vary the STREAM LAYOUT but never the decoded
    samples, so one oracle covers every variant.

    Scale posture: identical to the other codec queries — one Arrow
    batch stream, CPU-bound decode fanned by ``ensure_parallelism``,
    no shuffle. Reference parity note: the reference ETL
    (src/etl.py:201-209) carries opaque payloads; real decode is part
    of this repo's multimodal mandate (SURVEY.md §2 E11).
    """
    from pyspark import cloudpickle

    from ..functions import flac as flac_mod

    cloudpickle.register_pickle_by_value(flac_mod)
    enc, dec = flac_mod.encode_flac, flac_mod.decode_flac

    def decode_features(batches):
        import numpy as np
        import pandas as pd

        modes = ("independent", "left_side", "right_side", "mid_side")

        for pdf in batches:
            out = {
                k: []
                for k in ("doc_id", "n_samples", "sum_l", "sum_r",
                          "min_l", "max_r")
            }
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                n = 96 + did % 33
                i = np.arange(n, dtype=np.int64)
                left = ((did * 31 + i * i * 7) % 4001) - 2000
                right = left + (did + i * 3) % 7 - 3
                st = np.stack([left, right], axis=1)
                data = enc(
                    st,
                    sample_rate=8000,
                    block_size=64,
                    stereo_mode=modes[did % 4],
                    partition_order=did % 2,
                    lpc_order=4 if did % 5 == 0 else 0,
                    coding_method=1 if did % 7 == 0 else 0,
                )
                decoded, _rate = dec(data)
                dl = decoded[:, 0].astype(np.int64)
                dr = decoded[:, 1].astype(np.int64)
                out["doc_id"].append(did)
                out["n_samples"].append(int(dl.size))
                out["sum_l"].append(int(dl.sum()))
                out["sum_r"].append(int(dr.sum()))
                out["min_l"].append(int(dl.min()))
                out["max_r"].append(int(dr.max()))
            yield pd.DataFrame(out)

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    return docs.mapInPandas(
        decode_features,
        "doc_id long, n_samples long, sum_l long, sum_r long, "
        "min_l long, max_r long",
    )


# Oracle: the NET difference between keep-latest(first half) and
# keep-latest(all events, minus the tombstoned keys) — exactly what a
# manifest-diff CDC read from snapshot 1 to snapshot 3 must return.
# IS DISTINCT FROM mirrors the Spark side's null-safe struct
# inequality; pre-image for deletes, post-image otherwise.
SNAPSHOT_CHANGES_ORACLE = """
    WITH mid AS (SELECT CAST(max(event_id) AS BIGINT) // 2 AS m
                 FROM events),
    s1 AS (SELECT user_id, event_id, event_type, value
           FROM (SELECT user_id, event_id, event_type, value,
                        row_number() OVER (PARTITION BY user_id
                                           ORDER BY event_id DESC) AS rn
                 FROM events WHERE event_id <= (SELECT m FROM mid))
           WHERE rn = 1),
    s2 AS (SELECT user_id, event_id, event_type, value
           FROM (SELECT user_id, event_id, event_type, value,
                        row_number() OVER (PARTITION BY user_id
                                           ORDER BY event_id DESC) AS rn
                 FROM events)
           WHERE rn = 1)
    SELECT coalesce(s2.user_id, s1.user_id) AS user_id,
           CASE WHEN s2.user_id IS NULL THEN s1.event_id
                ELSE s2.event_id END AS event_id,
           CASE WHEN s2.user_id IS NULL THEN s1.event_type
                ELSE s2.event_type END AS event_type,
           CASE WHEN s2.user_id IS NULL THEN s1.value
                ELSE s2.value END AS value,
           CASE WHEN s1.user_id IS NULL THEN 'insert'
                WHEN s2.user_id IS NULL THEN 'delete'
                ELSE 'update' END AS _change_type
    FROM s1 FULL OUTER JOIN
         (SELECT * FROM s2 WHERE user_id % 13 <> 0) s2
      ON s1.user_id = s2.user_id
    WHERE s1.user_id IS NULL OR s2.user_id IS NULL
       OR s1.event_id IS DISTINCT FROM s2.event_id
       OR s1.event_type IS DISTINCT FROM s2.event_type
       OR s1.value IS DISTINCT FROM s2.value
"""


@register(
    "s_snapshot_changes",
    oracle=SNAPSHOT_CHANGES_ORACLE,
    tags=("storage", "snapshot", "cdc", "bench:additions_r8"),
)
def s_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-diff CDC read on a snapshot table (round 7 addition
    to E95): three commits — first-half events, second-half events,
    then a tombstone APPLY deleting every ``user_id % 13 == 0`` key —
    followed by ``changes(1, 3)``: the NET insert/update/delete set
    between the two states, with pre-images for deletes.

    Scale posture: the manifest diff prunes both sides of the
    comparison to buckets whose file sets differ (immutable data
    files + carry-by-reference make per-bucket file-list equality a
    proof of byte-equality), so an incremental read costs O(changed
    data), never O(table) — the property that makes a downstream
    incremental materialization viable at 100 TB. The diff itself is
    ONE full-outer shuffle join on the key over the pruned buckets.

    Oracle note: ``changes`` computes net state difference, so the
    oracle never has to model the middle commit — only the two
    endpoint states (and the tombstoned keys)."""
    table, empty_sid = _events_three_commits(
        spark, sf_dir, "snapshot_changes"
    )
    if empty_sid is not None:  # empty events: empty diff, stable schema
        return table.changes(empty_sid, empty_sid)
    return table.changes(1, 3)


def _events_three_commits(spark: SparkSession, sf_dir: str, name: str):
    """Shared table builder for the CDC queries: commit 1 = first-half
    events (keep-latest by user), commit 2 = second half, commit 3 =
    tombstone APPLY deleting every ``user_id % 13 == 0`` key. Returns
    ``(table, empty_sid)`` where ``empty_sid`` is the single empty
    commit's id when the events fixture is empty (else None)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from ..storage import SnapshotTable
    from ..tables import load_table

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/{name}"
    shutil.rmtree(base, ignore_errors=True)

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    table = SnapshotTable(
        spark, f"{base}/table", key_cols=["user_id"],
        order_col="event_id", n_buckets=8,
    )
    max_id = ev.agg(F.max("event_id")).first()[0]
    if max_id is None:
        return table, table.merge(ev)
    mid = int(max_id) // 2
    table.merge(ev.filter(F.col("event_id") <= mid))
    table.merge(ev.filter(F.col("event_id") > mid))
    tomb = (
        ev.filter(F.col("user_id") % 13 == 0)
        .select("user_id")
        .distinct()
        .withColumn("event_id", F.lit(int(max_id) + 1))
        .withColumn("event_type", F.lit("__delete__"))
        .withColumn("value", F.lit(0.0))
    )
    table.merge(tomb, tombstone_filter="event_type = '__delete__'")
    return table, None


# Oracle: a FULL RECOMPUTE of the final state's (count, exact-decimal
# sum) grain per event_type — the Spark side never reads the final
# state for its aggregate: it folds the CDF feed into the snapshot-1
# aggregate. Incremental maintenance == recompute is the IVM
# correctness claim itself.
SNAPSHOT_IVM_ORACLE = """
    WITH s2 AS (SELECT user_id, event_type, value
           FROM (SELECT user_id, event_type, value,
                        row_number() OVER (PARTITION BY user_id
                                           ORDER BY event_id DESC) AS rn
                 FROM events)
           WHERE rn = 1)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM s2 WHERE user_id % 13 <> 0
    GROUP BY event_type
"""


@register(
    "s_snapshot_incremental_agg",
    oracle=SNAPSHOT_IVM_ORACLE,
    tags=("storage", "snapshot", "cdc", "ivm", "bench:additions_r8"),
)
def s_snapshot_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-driven incremental aggregate maintenance (round 7,
    ``incremental.apply_cdc_to_agg``): materialize the (count, sum)
    grain per event_type at snapshot 1, then fold the Delta-CDF-style
    pre/post-image feed ``changes(1, 3, include_preimages=True)``
    into it — updates that MOVE a key between groups decrement the
    old group and increment the new one, deletes decrement, and the
    final aggregate NEVER re-reads the final state. The oracle is a
    full recompute of state 3; equality is the IVM correctness claim.

    Scale posture: maintenance cost is O(|changes| + touched groups)
    — the signed fold partial-aggregates map-side, the base table is
    read once at snapshot 1 and never again, and the CDF read itself
    is manifest-diff pruned (see ``SnapshotTable.changes``). This is
    the E74 additive-fold operator's missing sibling: E74 handles
    appends only; this one closes deletes and updates.

    Sum runs in DECIMAL(28,6) end-to-end (exact, order-independent),
    cast to double only at the output boundary."""
    from pyspark.sql import functions as F

    from ..streaming.incremental import agg_from_state, apply_cdc_to_agg

    table, empty_sid = _events_three_commits(
        spark, sf_dir, "snapshot_ivm"
    )
    if empty_sid is not None:
        base = agg_from_state(
            table.read(empty_sid), ["event_type"], "value"
        )
        return base.select(
            "event_type", "n_rows",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
    base = agg_from_state(table.read(snapshot_id=1), ["event_type"], "value")
    cdc = table.changes(1, 3, include_preimages=True)
    maintained = apply_cdc_to_agg(base, cdc, ["event_type"], "value")
    return maintained.select(
        "event_type", "n_rows",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


# Oracle: the same three stages in SQL — positioned 8-gram explode,
# keep-one duplicate marking (canonical = smallest (doc_id, pos)),
# gaps-and-islands span merge — over the shared whitespace-token
# convention (trim + split, empty text = zero tokens).
EXACT_SUBSTR_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
             CASE WHEN trim(text) = '' THEN 0 ELSE len(
               string_split_regex(trim(text), '\s+')) END AS n_tok
      FROM documents
    ),
    occ AS (
      SELECT doc_id, i AS pos, array_to_string(t[i+1:i+8], ' ') AS s
      FROM toks, unnest(range(len(t) - 7)) AS u(i)
      WHERE n_tok >= 8
    ),
    marked AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY s) AS c,
             row_number() OVER (PARTITION BY s
                                ORDER BY doc_id, pos) AS rn
      FROM occ
    ),
    dup AS (SELECT doc_id, pos FROM marked WHERE c > 1 AND rn > 1),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + 8) OVER (PARTITION BY doc_id
                    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING) IS NULL
                  OR pos > max(pos + 8) OVER (PARTITION BY doc_id
                    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS new_island
      FROM dup
    ),
    isl2 AS (
      SELECT doc_id, pos,
             sum(new_island) OVER (PARTITION BY doc_id
                                   ORDER BY pos) AS island
      FROM isl
    ),
    spans AS (
      SELECT doc_id, island, min(pos) AS s0, max(pos + 8) AS e0
      FROM isl2 GROUP BY doc_id, island
    ),
    stats AS (
      SELECT doc_id, count(*) AS n_dup_spans,
             sum(e0 - s0) AS dup_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_tok AS BIGINT) AS total_tokens,
           CAST(coalesce(st.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(st.dup_tokens, 0) AS BIGINT) AS dup_tokens
    FROM toks t LEFT JOIN stats st USING (doc_id)
"""


@register(
    "d_exact_substr_spans",
    oracle=EXACT_SUBSTR_ORACLE,
    tags=("llm", "dedup", "exact-substr", "bench:additions_r8"),
)
def d_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup stats (round 7,
    ``operators/dedup.duplicate_span_stats``) — the rung the
    document-level dedup ladder misses: otherwise-distinct documents
    sharing verbatim ≥8-token runs (boilerplate, license headers,
    quotations). Published recipe: suffix-array ExactSubstr dedup
    (Lee et al. 2022); the distributed equivalent here is a
    shuffle-on-shingle keep-one marking plus a gaps-and-islands span
    merge — see the operator docstring for the two-shuffle shape and
    the ``hash_shingles`` 100-TB exchange-narrowing option (the
    property test pins hashed ≡ string results; the ORACLE runs the
    string path so parity is by construction, not w.h.p.).

    Output per document: total tokens, number of maximal duplicate
    spans, and tokens covered — the removal budget a curation run
    logs before slicing the spans out."""
    from ..operators.dedup import duplicate_span_stats
    from .llm import _with_tk

    docs = _with_tk(load_table(spark, sf_dir, "documents"))
    return duplicate_span_stats(docs, "tk", "doc_id", k=8)


# Closed-form oracle for the (lossless) TIFF path — gray docs on even
# doc_ids (WhiteIsZero inversion on doc_id%5==0 cancels out in
# decode: encode inverts samples, decode re-inverts), RGB on odd;
# the Spark side runs the FULL container pipeline (IFD walk, strip
# split, PackBits / TIFF-LZW with the early width change, predictor-2
# prefix sums, both byte orders) while the oracle recomputes the
# pixel functions directly.
TIFF_ORACLE = """
    WITH d AS (SELECT doc_id,
                      10 + doc_id % 13 AS w,
                      9 + doc_id % 11 AS h
               FROM documents),
    g AS (SELECT unnest(generate_series(0, 22)) AS i),
    px AS (
      SELECT d.doc_id, d.w, d.h, gx.i AS x, gy.i AS y
      FROM d JOIN g gx ON gx.i < d.w JOIN g gy ON gy.i < d.h
    )
    SELECT doc_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(sum(CASE WHEN doc_id % 2 = 0
                THEN (doc_id * 5 + x * 3 + y * 7) % 256
                ELSE (doc_id * 3 + x + 2 * y) % 256 END) AS BIGINT)
             AS sum_r,
           CAST(sum(CASE WHEN doc_id % 2 = 0
                THEN (doc_id * 5 + x * 3 + y * 7) % 256
                ELSE (doc_id * 5 + 2 * x + y) % 256 END) AS BIGINT)
             AS sum_g,
           CAST(sum(CASE WHEN doc_id % 2 = 0
                THEN (doc_id * 5 + x * 3 + y * 7) % 256
                ELSE (doc_id * 7 + x + y) % 256 END) AS BIGINT)
             AS sum_b
    FROM px GROUP BY doc_id
"""


@register(
    "m_tiff_decode_features",
    oracle=TIFF_ORACLE,
    tags=("llm", "multimodal", "tiff", "bench:additions_r8"),
)
def m_tiff_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF decode → features through the REAL codec (round 7,
    ``functions/tiff.py``: IFD tag walk in both byte orders, strip
    organization, PackBits and TIFF-LZW — the MSB-first, EARLY
    width-change LZW variant, not GIF's — horizontal-differencing
    predictor, WhiteIsZero inversion) — the scanning/scientific
    interchange rung of the image container ladder after PPM/BMP,
    PNG, GIF and JPEG.

    Per document: a deterministic (10+doc_id%13) × (9+doc_id%11)
    image — gray on even doc_ids (stored WhiteIsZero when
    doc_id%5==0), RGB on odd — encoded with doc-varying container
    features (compression cycles none/PackBits/LZW by doc_id%3,
    predictor 2 on doc_id%4<2 for LZW/none, big-endian on
    doc_id%7<3), decoded back, and reduced to exact channel sums.
    Container options vary the BYTES, never the decoded pixels, so
    one oracle covers every variant.

    Scale posture: identical to the other codec queries — one Arrow
    batch stream, ``ensure_parallelism`` fan-out, no shuffle."""
    from pyspark import cloudpickle

    from ..functions import tiff as tiff_mod

    cloudpickle.register_pickle_by_value(tiff_mod)
    enc, dec = tiff_mod.encode_tiff, tiff_mod.decode_tiff

    def decode_features(batches):
        import numpy as np
        import pandas as pd

        comps = ("none", "packbits", "lzw")

        for pdf in batches:
            out = {
                k: []
                for k in ("doc_id", "width", "height", "sum_r", "sum_g",
                          "sum_b")
            }
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                w, h = 10 + did % 13, 9 + did % 11
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                if did % 2 == 0:
                    img = ((did * 5 + x * 3 + y * 7) % 256).astype(
                        np.uint8
                    )
                    photometric = 0 if did % 5 == 0 else 1
                else:
                    img = np.stack(
                        [
                            (did * 3 + x + 2 * y) % 256,
                            (did * 5 + 2 * x + y) % 256,
                            (did * 7 + x + y) % 256,
                        ],
                        axis=2,
                    ).astype(np.uint8)
                    photometric = None
                data = enc(
                    img,
                    compression=comps[did % 3],
                    predictor=2 if did % 4 < 2 else 1,
                    endian=">" if did % 7 < 3 else "<",
                    rows_per_strip=4 + did % 5,
                    photometric=photometric,
                )
                d = dec(data).astype(np.int64)
                out["doc_id"].append(did)
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(int(d[:, :, 0].sum()))
                out["sum_g"].append(int(d[:, :, 1].sum()))
                out["sum_b"].append(int(d[:, :, 2].sum()))
            yield pd.DataFrame(out)

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    return docs.mapInPandas(
        decode_features,
        "doc_id long, width long, height long, sum_r long, sum_g long, "
        "sum_b long",
    )


# ONE oracle for SIX container formats: every arm decodes to the SAME
# deterministic image (uniform 8x8 tiles with values divisible by the
# JPEG quant step — JPEG's proven exactness domain, trivially exact
# for the five lossless formats), so the oracle is format-blind
# integer arithmetic while the Spark side exercises the entire
# magic-byte dispatch surface.
MIXED_IMAGE_ORACLE = """
    WITH d AS (SELECT doc_id,
                      2 + doc_id % 2 AS ty,
                      2 + doc_id % 3 AS tx
               FROM documents),
    g AS (SELECT unnest(generate_series(0, 3)) AS i),
    tiles AS (
      SELECT d.doc_id, d.ty, d.tx, gy.i AS tyi, gx.i AS txi,
             2 * ((d.doc_id * 7 + gy.i * 13 + gx.i * 29) % 128) AS v
      FROM d JOIN g gy ON gy.i < d.ty JOIN g gx ON gx.i < d.tx
    )
    SELECT doc_id,
           CAST(max(tx) * 8 AS BIGINT) AS width,
           CAST(max(ty) * 8 AS BIGINT) AS height,
           CAST(sum(64 * v) AS BIGINT) AS sum_r,
           CAST(sum(64 * v * (tyi * 8 + txi + 1)) AS BIGINT) AS checksum
    FROM tiles GROUP BY doc_id
"""


@register(
    "m_mixed_image_decode_features",
    oracle=MIXED_IMAGE_ORACLE,
    tags=("llm", "multimodal", "dispatch", "bench:additions_r8"),
)
def m_mixed_image_decode_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The UNIFIED image-decode surface, end to end: each document's
    image is encoded in one of SIX container formats chosen by
    ``doc_id % 6`` — PPM, BMP, PNG, GIF, baseline JPEG, TIFF-LZW
    (big-endian + predictor 2 on alternating docs) — and every one
    decodes through the SAME ``decode_image`` magic-byte dispatch. A
    user of this engine hands arbitrary image bytes to one function;
    this query is the proof that claim holds across the whole ladder.

    The image is uniform 8x8 tiles with values in JPEG's proven
    exactness domain (even values, quant step 16 — see the
    ``m_jpeg_decode_features`` oracle note), so all six formats
    decode bit-identically and ONE format-blind oracle covers them.

    Worker shipping: multimodal + jpeg + tiff are ALL registered for
    by-value pickling — ``decode_image`` reaches its JPEG/TIFF
    branches through module globals, never a worker-side import
    (the module-level-import fix this query exists to exercise).

    Scale posture: identical to the other codec queries — one Arrow
    batch stream, ``ensure_parallelism`` fan-out, no shuffle."""
    from ..functions import jpeg as jpeg_mod
    from ..functions import multimodal as mm_mod
    from ..functions import tiff as tiff_mod

    mm_mod.register_codecs_by_value()
    decode = mm_mod.decode_image
    enc_ppm, enc_bmp = mm_mod.encode_ppm, mm_mod.encode_bmp
    enc_png, enc_gif = mm_mod.encode_png, mm_mod.encode_gif
    enc_jpeg = jpeg_mod.encode_jpeg_baseline
    enc_tiff = tiff_mod.encode_tiff

    def decode_features(batches):
        import numpy as np
        import pandas as pd

        gray_pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)

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
                        img[ty * 8 : ty * 8 + 8,
                            tx * 8 : tx * 8 + 8, :] = v
                arm = did % 6
                if arm == 0:
                    data = enc_ppm(img)
                elif arm == 1:
                    data = enc_bmp(img)
                elif arm == 2:
                    data = enc_png(img)
                elif arm == 3:
                    data = enc_gif(img[:, :, 0], gray_pal)
                elif arm == 4:
                    data = enc_jpeg(img, quant_luma=16)
                else:
                    data = enc_tiff(
                        img, compression="lzw",
                        predictor=2 if did % 2 else 1,
                        endian=">" if did % 4 < 2 else "<",
                    )
                d = decode(data).astype(np.int64)
                r = d[:, :, 0]
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
