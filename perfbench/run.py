#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {odata_ingest,query_mix} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``). The line before it, ``{"report": ...}``, holds the
workload's own layer numbers and the properties of the generated
inputs; the same report and the spans are written under
``perfbench/results/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
from wl_ingest import OdataIngest  # noqa: E402
from wl_queries import QueryMix  # noqa: E402

E2E_UNITS = {"setup_s": "s", "run_s": "s", "op_latency_s": "s"}
# Per-layer metrics every traced run reports, whatever the workload.
# Times here are measured on every workload; a layer a workload does
# not use reads 0 only in counts, bytes and ratios. The workload's own
# layer times are in the report line (see README.md).
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_only_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.task_p50_s": "s",
    "spark.task_max_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_returned": "bytes",
    "memory.peak_mb": "MB",
    "memory.driver_peak_mb": "MB",
    "memory.jvm_peak_mb": "MB",
    "memory.workers_peak_mb": "MB",
    "host.gemm_s_start": "s",
    "host.gemm_s_end": "s",
    "host.spark_job_s_start": "s",
    "host.spark_job_s_end": "s",
    "host.drift_ratio": "ratio",
    "host.steal_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.unattributed_ratio": "ratio",
    "failed_op_ratio": "ratio",
    "source_requests_per_op": "count",
    "sources.requests_metadata": "count",
    "sources.requests_probe": "count",
    "sources.requests_distinct": "count",
    "sources.requests_page": "count",
    "sources.requests_delta": "count",
    "sources.requests_retried": "count",
    "sources.bytes_served": "bytes",
    "sources.partitions": "count",
    "sources.inflight_max": "count",
    "etl.rows_in": "count",
    "etl.rows_out": "count",
    "etl.rows_kept_ratio": "ratio",
    "storage.bytes_written": "bytes",
    "storage.files_written": "count",
    "storage.files_live": "count",
    "storage.snapshots_live": "count",
    "storage.metadata_bytes": "bytes",
    "write_bytes_per_user_byte": "ratio",
    "stored_bytes_per_user_byte": "ratio",
}
SETUP_REPEATS = 3


class Ctx:
    """What a workload gets: the session, the tracer, op accounting,
    the seed and the paths."""

    def __init__(self, args, paths):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.nproc = common.nproc()
        self.paths = paths
        self.tracer = common.Tracer()
        self.ops = common.OpLog()
        self.mem = common.MemorySampler()
        self.spark = None
        self.n_ops = 0
        self.pass_op_s = 0.0

    @contextmanager
    def op(self, kind: str):
        """One op: its own span and Spark job group."""
        self.n_ops += 1
        op_id = f"{kind}-{self.n_ops}"
        self.tracer.op = op_id
        self.spark.sparkContext.setJobGroup(op_id, op_id)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", kind=kind) as rec:
                yield rec
        finally:
            self.pass_op_s += time.perf_counter() - t0
            self.tracer.op = None
            self.spark.sparkContext.setJobGroup("between-ops", "between-ops")

    def segment(self, name: str, seconds: float, one_pass) -> list[float]:
        """Timed closed loop; returns the op time of each pass."""
        self.tracer.segment = name
        per_pass: list[float] = []

        def run_pass():
            self.pass_op_s = 0.0
            one_pass(self)
            per_pass.append(self.pass_op_s)

        common.timed_loop(seconds, run_pass)
        return per_pass


WORKLOADS = {w.name: w for w in (OdataIngest, QueryMix)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(common.ROOT, common.PACKAGE)):
        print(f"{common.PACKAGE} not found next to perfbench/", file=sys.stderr)
        return 2
    W = WORKLOADS[args.workload]
    # A terminated run still stops its fixture server and Spark.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    paths = common.prepare_environment(bool(args.trace))
    ctx = Ctx(args, paths)
    ctx.mem.start()
    wl = W(ctx)
    try:
        result = run(ctx, wl)
    finally:
        wl.teardown()
        if ctx.spark is not None:
            common.stop_spark(ctx.spark)
        ctx.mem.stop()
    result["layers"]["memory.peak_mb"] = ctx.mem.peak_kb / 1024.0
    for k, v in ctx.mem.peak_parts.items():
        result["layers"][f"memory.{k}_peak_mb"] = v / 1024.0
    if ctx.trace:
        from eventlog import load, reduce, summarize

        ops = ctx.tracer.of("op", "traced")
        per_op = reduce(load(paths["eventlog"]), ops)
        by_kind: dict[str, list[dict]] = {}
        for o in ops:
            by_kind.setdefault(o["kind"], []).append(per_op[o["op"]])
        # Per-layer Spark numbers describe the op that op_latency_s times.
        for k, v in summarize(by_kind[wl.op_kind]).items():
            result["layers"][f"spark.{k}"] = v
        result["report"]["spark_by_op_kind"] = {k: summarize(v) for k, v in by_kind.items()}
    return emit(ctx, args, result)


def run(ctx: Ctx, wl) -> dict:
    sys.path.insert(0, common.ROOT)
    from turnover_odata_etl_spark.session import get_spark

    # The GEMM runs before the JVM exists, so our own background JIT
    # and GC threads do not show as host drift.
    host_start = {"gemm_s": common.gemm_probe()}
    setup_ticks = common.cpu_ticks()
    t0 = time.perf_counter()
    with ctx.tracer.span("session.get_spark"):
        ctx.spark = get_spark(app_name=f"perfbench-{wl.name}")
    get_spark_s = time.perf_counter() - t0
    switch = common.EventLogSwitch(ctx.spark)
    switch.detach()

    ctx.tracer.segment = "setup"
    prepare_s = []
    for _ in range(SETUP_REPEATS):
        t1 = time.perf_counter()
        with ctx.tracer.span("setup.prepare"):
            wl.prepare(ctx)
        prepare_s.append(time.perf_counter() - t1)
    t1 = time.perf_counter()
    with ctx.tracer.span("setup.warmup"):
        wl.warmup(ctx)
    warmup_s = time.perf_counter() - t1
    host_start["spark_job_s"] = common.spark_job_probe(ctx.spark, ctx.nproc)
    setup_peak_mb = ctx.mem.restart_peak()

    ticks = common.cpu_ticks()
    setup_steal = common.steal_ratio(setup_ticks, ticks)
    if ctx.trace:
        untraced = ctx.segment("untraced", ctx.seconds / 2, wl.one_pass)
        switch.attach()
        passes = ctx.segment("traced", ctx.seconds / 2, wl.one_pass)
        switch.detach()
        segment = "traced"
    else:
        passes = untraced = ctx.segment("untraced", ctx.seconds, wl.one_pass)
        segment = "untraced"
    steal = common.steal_ratio(ticks, common.cpu_ticks())
    host_end = {
        "gemm_s": common.gemm_probe(),
        "spark_job_s": common.spark_job_probe(ctx.spark, ctx.nproc),
    }

    e2e, layers, report = wl.metrics(ctx, segment)
    e2e["setup_s"] = get_spark_s + common.median(prepare_s) + warmup_s
    e2e["run_s"] = common.median(passes)
    layers["session.get_spark_s"] = get_spark_s
    for k, v in (("start", host_start), ("end", host_end)):
        layers[f"host.gemm_s_{k}"] = v["gemm_s"]
        layers[f"host.spark_job_s_{k}"] = v["spark_job_s"]
    layers["host.steal_ratio"] = steal
    layers["host.drift_ratio"] = (
        host_end["gemm_s"] / host_start["gemm_s"]
        * host_end["spark_job_s"] / host_start["spark_job_s"]
    ) ** 0.5
    layers["trace.overhead_ratio"] = (
        common.median(passes) / common.median(untraced) if ctx.trace else 1.0
    )
    ops = ctx.tracer.of("op", segment)
    wall = sum(s["end"] - s["start"] for s in ops)
    child = sum(
        s["end"] - s["start"] for s in ctx.tracer.spans
        if "end" in s and s["parent"] is not None
        and ctx.tracer.spans[s["parent"]]["name"] == "op"
        and s["segment"] == segment
    )
    layers["trace.unattributed_ratio"] = (wall - child) / wall if wall else 0.0
    layers["failed_op_ratio"] = ctx.ops.failed / max(1, ctx.ops.attempted)
    report.update({
        "setup": {
            "get_spark_s": get_spark_s, "prepare_s": prepare_s, "warmup_s": warmup_s,
            "peak_mb": setup_peak_mb, "steal_ratio": setup_steal,
        },
        "passes_op_s": passes,
        "untraced_passes_op_s": untraced,
        "ops": {"attempted": ctx.ops.attempted, "failed": ctx.ops.failed, "wrong": ctx.ops.wrong},
    })
    return {"e2e": e2e, "layers": layers, "report": report}


def emit(ctx: Ctx, args, result: dict) -> int:
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    report = {**result["report"], "layers": result["layers"], "e2e": result["e2e"]}
    with open(os.path.join(common.RESULTS, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    ctx.tracer.dump(os.path.join(common.RESULTS, f"{tag}.spans.json"))
    if ctx.trace:
        metrics = {
            name: {"value": float(result["layers"].get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER_UNITS.items()
        }
    else:
        metrics = {
            name: {"value": float(result["e2e"][name]), "unit": unit}
            for name, unit in E2E_UNITS.items()
        }
    print(json.dumps({"report": report}, sort_keys=True, default=str))
    print(json.dumps({
        "correct": ctx.ops.failed == 0,
        "attempted": ctx.ops.attempted,
        "failed": ctx.ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
