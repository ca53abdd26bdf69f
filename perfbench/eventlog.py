"""Reduce a Spark event log (JSON lines) to per-op layer numbers.

Stdlib ``json`` only. Jobs are attributed to ops by the job group the
benchmark sets around each op (``spark.jobGroup.id``); jobs started on
other threads (streaming micro-batches carry their own group) fall
back to the op whose time window holds their submission. Stages and
tasks follow their job.

Per op: jobs, stages, tasks, driver-only time (op wall minus the union
of its job intervals), executor run and CPU time, JVM GC, shuffle and
spill bytes, task durations, and the Python-worker SQL metrics.
"""

from __future__ import annotations

import json
import os
import statistics

PY_START = ("time to start Python workers", "time to initialize Python workers")
PY_RUN = ("time to run Python workers",)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

SUM_KEYS = (
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_worker_start_s",
    "python_worker_run_s",
    "python_bytes_sent",
    "python_bytes_returned",
)
MEDIAN_KEYS = ("jobs", "stages", "tasks", "driver_only_s")


def load(path: str) -> list[dict]:
    """Events from one log file, or from every file of a log directory
    (the layout rolling logs and ``spark.eventLog.dir`` use)."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(dp, n)
            for dp, _d, names in os.walk(path)
            for n in names
            if not n.startswith(".")
        )
    else:
        files = [path]
    events = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def reduce(events: list[dict], ops: list[dict]) -> dict[str, dict]:
    """Per-op numbers, keyed by op id. ``ops`` are ``{"op": id,
    "start": epoch_s, "end": epoch_s}``; each result also lists its
    task durations under ``task_s``."""
    by_id = {o["op"]: o for o in ops}
    job_op: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_op: dict[int, str] = {}
    per = {
        o["op"]: {k: 0.0 for k in (*MEDIAN_KEYS, *SUM_KEYS)} | {"_jobs": [], "task_s": []}
        for o in ops
    }

    def op_at(t_s: float) -> str | None:
        for o in ops:
            if o["start"] <= t_s <= o["end"]:
                return o["op"]
        return None

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            op = group if group in by_id else op_at(t)
            if op is None:
                continue
            job_op[e["Job ID"]] = op
            job_span[e["Job ID"]] = [t, t]
            per[op]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_op.setdefault(sid, op)
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_span:
                job_span[jid][1] = e["Completion Time"] / 1000.0
                per[job_op[jid]]["_jobs"].append(tuple(job_span[jid]))
        elif kind == "SparkListenerStageCompleted":
            op = stage_op.get(e["Stage Info"]["Stage ID"])
            if op is not None:
                per[op]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(e["Stage ID"])
            if op is None:
                continue
            p = per[op]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            p["tasks"] += 1
            p["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
            p["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            p["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            p["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            p["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            sr = m.get("Shuffle Read Metrics") or {}
            p["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            p["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                name, upd = acc.get("Name"), _num(acc.get("Update"))
                if name in PY_START:
                    p["python_worker_start_s"] += upd / 1000.0
                elif name in PY_RUN:
                    p["python_worker_run_s"] += upd / 1000.0
                elif name == PY_SENT:
                    p["python_bytes_sent"] += upd
                elif name == PY_RETURNED:
                    p["python_bytes_returned"] += upd

    for o in ops:
        p = per[o["op"]]
        clipped = [
            (max(s, o["start"]), min(e, o["end"]))
            for s, e in p.pop("_jobs")
            if min(e, o["end"]) > max(s, o["start"])
        ]
        p["driver_only_s"] = (o["end"] - o["start"]) - _union_s(clipped)

    return per


def summarize(rows: list[dict]) -> dict[str, float]:
    """Across ops: the median of counts and driver-only time, the mean
    per op of resource sums, and the median and max task duration."""
    if not rows:
        return {}
    out = {k: statistics.median(r[k] for r in rows) for k in MEDIAN_KEYS}
    out.update({k: sum(r[k] for r in rows) / len(rows) for k in SUM_KEYS})
    tasks = [t for r in rows for t in r["task_s"]]
    out["task_p50_s"] = statistics.median(tasks) if tasks else 0.0
    out["task_max_s"] = max(tasks, default=0.0)
    return out
