#!/usr/bin/env python
"""Benchmark harness: the bench sections at $SPARK_GRAFT_SF_DIR.

A query belongs to a section through one ``bench:<section>`` tag in
its own ``@register(...)``; ``SECTIONS`` below fixes the section names
and their output order. Within a section queries run in registry
order. Staged queries (``staged`` tag, out of the driver contract)
are timed from ``registry.staged_specs()`` in the ``staged_*``
sections.

Output: the full payload (per-query timings and ``<section>_total``
for every section, then ``all_total``) goes to ``bench_out.json``;
stdout gets one JSON line per section, then the compact contract line
``{"metric": "headline_total", "value", "unit", "queries", "sf",
"sections": {section: total, ..., "all"}, "fixtures", "full_payload"}``.

Sections (see BASELINE.md "Bench methodology"):
  * ``headline`` (payload key ``queries``): batch plan quality only.
  * ``streaming``: Structured Streaming pipelines, run last with a
    dedicated checkpoint root and an untimed warm-up. They measure
    micro-batch/state-store setup, not plan quality, and were the
    dominant noise source in the r02 driver bench, so they stay out
    of the headline.
  * ``showcase``: the TPC-H join-order suite (Q1 sits in the headline).
  * ``pipeline``, ``additions``, ``additions_rN``: each round's
    registrations get their own section, frozen afterwards, so every
    section is a series comparable across rounds; a later round never
    moves a query between sections.
  * ``staged_rN``: staged queries, timed so the staged→registered
    series continues; left out of ``all_total`` because they are not
    part of the registered inventory.

Execution notes: each query materializes via the noop sink (full
computation, no write cost, nothing collected to the driver). A
throwaway warm-up query first absorbs JVM/codegen startup so
per-query numbers reflect steady state.  Timings are min-of-N reps
(SPARK_GRAFT_BENCH_REPS, default 3): single-shot numbers at this
scale show ±2× OS/JIT noise on identical plans.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from turnover_odata_etl_spark.plans import registry  # noqa: E402
from turnover_odata_etl_spark.plans.reference import (  # noqa: E402
    flagship_turnover,
)
from turnover_odata_etl_spark.plans.streaming_plans import (  # noqa: E402
    st_tumbling_window,
)
from turnover_odata_etl_spark.session import get_spark  # noqa: E402

SECTIONS = (
    "headline", "streaming", "showcase", "pipeline", "additions",
    "additions_r6", "additions_r7", "additions_r8", "additions_r9",
    "additions_r10", "additions_r11", "additions_r12", "additions_r13",
    "additions_r14", "additions_r15", "staged_r16",
)


def bench_specs() -> dict[str, registry.QuerySpec]:
    """Registered then staged specs, in registry order."""
    return {**registry.all_specs(), **registry.staged_specs()}


def section_queries() -> dict[str, list[str]]:
    """``SECTIONS`` → member names, read from the ``bench:`` tags."""
    members: dict[str, list[str]] = {s: [] for s in SECTIONS}
    for name, spec in bench_specs().items():
        for tag in spec.tags:
            if tag.startswith("bench:"):
                members[tag.removeprefix("bench:")].append(name)
    return members


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_queries(spark, specs, names, sf_dir, reps, errors, clear_cache=True):
    """min-of-reps wall time per query.

    ``clear_cache`` drops DataFrames persisted inside operators (e.g.
    the minhash signature frame) between reps: each invocation builds
    a new lineage, so leftover cache blocks only eat storage memory
    and skew later timings.  Streaming reps skip it — they persist
    nothing and evicting the parquet footer/static caches mid-section
    only adds noise.

    Partial-failure-proof (VERDICT r03 #2): one broken query must never
    null the round's number of record. A query that throws is recorded
    in ``errors`` (truncated message) and skipped; the section total
    sums whatever succeeded.
    """
    timings: dict[str, float] = {}
    for name in names:
        best = float("inf")
        try:
            for _ in range(reps):
                t0 = time.perf_counter()
                materialize(specs[name].fn(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
                if clear_cache:
                    spark.catalog.clearCache()
        except Exception as exc:  # noqa: BLE001 — harness boundary
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"  {name}: ERROR {errors[name][:120]}", file=sys.stderr)
            continue
        timings[name] = round(best, 3)
        print(f"  {name}: {timings[name]:.3f}s", file=sys.stderr)
    return timings


@contextlib.contextmanager
def streaming_checkpoint(spark, sf_dir, errors):
    """Dedicated pre-created checkpoint root (each query still gets
    its own sub-directory via its unique queryName — avoids per-rep
    temp-dir create/delete) and an untimed warm-up run so micro-batch
    planner / state-store init is paid once, not inside the first
    timed rep."""
    ckpt_root = tempfile.mkdtemp(prefix="spark_graft_bench_ckpt_")
    spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt_root)
    try:
        try:
            materialize(st_tumbling_window(spark, sf_dir))  # warm-up
        except Exception as exc:  # noqa: BLE001 — harness boundary
            errors["__streaming_warmup__"] = f"{type(exc).__name__}: {exc}"[:500]
        yield
    finally:
        spark.conf.unset("spark.sql.streaming.checkpointLocation")
        shutil.rmtree(ckpt_root, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    spark = get_spark(app_name="bench")

    specs = bench_specs()
    members = section_queries()
    errors: dict[str, str] = {}
    # warm-up: JVM + codegen + parquet footer caches, plus the Python
    # worker pool (first mapInPandas otherwise pays daemon spawn +
    # Arrow init inside whichever query hits it first). Warm-up is
    # best-effort: a broken warm-up query shifts its cost into the
    # first timed rep but must not kill the bench.
    try:
        materialize(flagship_turnover(spark, sf_dir))
        spark.range(1000).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001 — harness boundary
        errors["__warmup__"] = f"{type(exc).__name__}: {exc}"[:500]

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    # Batch sections first, streaming last inside its checkpoint root.
    timed: dict[str, dict[str, float]] = {}
    for section in sorted(SECTIONS, key=lambda s: s == "streaming"):
        streaming = section == "streaming"
        with (streaming_checkpoint(spark, sf_dir, errors) if streaming
              else contextlib.nullcontext()):
            timed[section] = time_queries(
                spark, specs, members[section], sf_dir, reps, errors,
                clear_cache=not streaming,
            )

    section_totals = {
        s: round(sum(timed[s].values()), 3) for s in SECTIONS
    }
    section_totals["all"] = round(
        sum(t for s, t in section_totals.items()
            if not s.startswith("staged_")),
        3,
    )
    # Fixture fingerprint: the driver regenerates /root/testdata
    # between rounds (it did at round-5 start), which silently resets
    # per-query comparability for data-dependent timings (the dedup /
    # similarity families especially). Stamping size+mtime of the two
    # text-bearing tables into the artifact makes a regeneration
    # visible in the BENCH_r{N}.json series itself.
    fixtures = {}
    for t in ("documents", "lineitem"):
        try:
            st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
            fixtures[t] = {"bytes": st.st_size, "mtime": int(st.st_mtime)}
        except OSError:
            pass
    payload = {
        "metric": "headline_total",
        "value": section_totals["headline"],
        "unit": "sec",
        "queries": timed["headline"],
        "sf": sf,
    }
    for s in SECTIONS[1:]:  # the headline is "queries" above
        payload[s] = timed[s]
        payload[f"{s}_total"] = section_totals[s]
    payload["all_total"] = section_totals["all"]
    payload["fixtures"] = fixtures
    if errors:
        payload["errors"] = errors

    # Artifact robustness (VERDICT r07 "What's wrong #3"): the driver
    # captures a bounded TAIL of stdout, and once the full payload line
    # outgrew it the headline was lost. So: (1) the full payload goes to
    # bench_out.json (untracked: it drifted after every driver pass);
    # (2) each section prints as its own small JSON line; (3) the LAST
    # stdout line is a ~1 KB compact contract line the tail always keeps.
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "bench_out.json")
    try:
        with open(out_path, "w") as fh:
            json.dump(payload, fh)
            fh.write("\n")
    except OSError as exc:
        print(f"  bench_out.json write failed: {exc}", file=sys.stderr)
    for s in SECTIONS:
        print(
            json.dumps({"section": s, "total": section_totals[s],
                        "queries": timed[s]}),
            flush=True,
        )
    compact = {
        "metric": "headline_total",
        "value": section_totals["headline"],
        "unit": "sec",
        "queries": timed["headline"],
        "sf": sf,
        "sections": section_totals,
        "fixtures": fixtures,
        "full_payload": "bench_out.json",
    }
    if errors:
        compact["errors"] = {k: v[:120] for k, v in errors.items()}
    print(json.dumps(compact), flush=True)


if __name__ == "__main__":
    main()
