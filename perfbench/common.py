"""Shared benchmark plumbing: environment, spans, memory sampling,
host calibration, the timed loop, op accounting and the fixture
process.

Everything here lives on the benchmark side. The package under test
only sees the SparkSession it builds itself (``session.get_spark``)
and the generated inputs.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
PACKAGE = "turnover_odata_etl_spark"


def nproc() -> int:
    """CPUs this process may run on (ignores OMP_NUM_THREADS, unlike
    the ``nproc`` command)."""
    return len(os.sched_getaffinity(0))


def prepare_environment(trace: bool) -> dict:
    """Size Spark to the box and keep every file it writes inside the
    checkout. Must run before pyspark is imported. Returns the paths."""
    shutil.rmtree(WORK, ignore_errors=True)
    paths = {
        name: os.path.join(WORK, name)
        for name in ("tmp", "spark-local", "warehouse", "eventlog", "data")
    }
    for p in paths.values():
        os.makedirs(p)
    os.makedirs(RESULTS, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_LOCAL_DIRS"] = paths["spark-local"]
    env["SPARK_GRAFT_WAREHOUSE"] = paths["warehouse"]
    env["TMPDIR"] = paths["tmp"]
    # Executors start their own Python workers; they import the
    # package (the OData DataSource pickles by reference).
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={paths['tmp']}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{paths['eventlog']}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return paths


class EventLogSwitch:
    """Detach/attach Spark's event-log listener, so one traced process
    can time an untraced segment and a traced one on the same warm
    JVM (``trace.overhead_ratio``)."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        opt = sc.eventLogger()
        self._listener = opt.get() if opt.isDefined() else None
        self.attached = self._listener is not None

    def detach(self) -> None:
        if self.attached:
            self._bus.removeListener(self._listener)
            self.attached = False

    def attach(self) -> None:
        if self._listener is not None and not self.attached:
            self._bus.addToEventLogQueue(self._listener)
            self.attached = True


class Tracer:
    """In-memory spans: name, start, end, parent, op id. Written out
    once, at exit."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.segment = "untraced"

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "op": self.op,
            "segment": self.segment,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            **attrs,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def of(self, name: str, segment: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and "end" in s
            and (segment is None or s["segment"] == segment)
        ]

    def durations(self, name: str, segment: str | None = None) -> list[float]:
        return [s["end"] - s["start"] for s in self.of(name, segment)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class MemorySampler:
    """Peak memory of this process and its descendants (the driver, the
    JVM and the Python workers), sampled from /proc.
    Each process counts its proportional set size: pages shared with
    the processes it was forked from are split between them, not
    counted once per worker. ``exclude`` pids (the fixture server) are
    left out with their subtrees."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def restart_peak(self) -> float:
        """Start a new peak; returns the previous one in MB."""
        with self._lock:
            prev, self.peak_kb = self.peak_kb, 0
        return prev / 1024.0

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024.0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        parts = {"driver": 0, "jvm": 0, "workers": 0}
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except (OSError, StopIteration):
                continue
            total += kb
            part = "driver" if pid == os.getpid() else "jvm" if comm == "java" else "workers"
            parts[part] += kb
            todo.extend(children.get(pid, ()))
        with self._lock:
            if total > self.peak_kb:
                self.peak_kb = total
                self.peak_parts = parts


def gemm_probe() -> float:
    """Fixed CPU work: a numpy GEMM, the median of five repetitions
    after one unmeasured one."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((768, 768))
    times = []
    for _ in range(6):
        t0 = time.perf_counter()
        a @ a
        times.append(time.perf_counter() - t0)
    return statistics.median(times[1:])


def spark_job_probe(spark, n: int) -> float:
    """One trivial Spark job, the median of three repetitions after
    one unmeasured one."""
    times = []
    for _ in range(4):
        t0 = time.perf_counter()
        spark.range(0, 2_000_000, numPartitions=n).selectExpr("sum(id)").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times[1:])


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_ratio(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two ``cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def op_latency(by_kind: dict[str, list[float]]) -> float:
    """Geometric mean, over the op kinds, of each kind's median latency.

    With one kind this is its median. With several kinds of very
    different cost (the registered queries), a plain median over all
    ops is whichever kind sits in the middle, and it jumps when two
    kinds swap places; the geometric mean moves with every kind and
    weighs a given factor of change the same for a fast and a slow one.
    """
    meds = [median(v) for v in by_kind.values() if v]
    return statistics.geometric_mean(meds) if meds else 0.0


def timed_loop(seconds: float, one_pass) -> int:
    """Closed loop, one client: start passes back to back until
    ``seconds`` have passed (the last pass may end after that).
    Returns the number of passes."""
    start = time.perf_counter()
    n = 0
    while n == 0 or time.perf_counter() - start < seconds:
        one_pass()
        n += 1
    return n


class OpLog:
    """Attempted / failed / wrong op accounting; a wrong answer counts
    as a failed op."""

    def __init__(self):
        self.reset()

    def reset(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.wrong = 0

    def run(self, fn, *args) -> bool:
        """Run one op; True when it completed and its check passed."""
        self.attempted += 1
        try:
            ok = fn(*args)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return False
        if not ok:
            self.wrong += 1
            self.failed += 1
        return bool(ok)


class Fixture:
    """The fixture server process (``fixture_server.py``) and its
    control endpoints."""

    SERVICE = "/sap/byd/odata/cc_home_analytics.svc"

    def __init__(self, spec: dict, work: str):
        os.makedirs(work, exist_ok=True)
        spec_path = os.path.join(work, "fixture_spec.json")
        self.port_file = os.path.join(work, "fixture_port")
        if os.path.exists(self.port_file):
            os.remove(self.port_file)
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "fixture_server.py"),
             "--spec", spec_path, "--port-file", self.port_file],
            stdin=subprocess.DEVNULL,
        )
        deadline = time.time() + 120
        while not os.path.exists(self.port_file):
            if self.proc.poll() is not None or time.time() > deadline:
                self.stop()
                raise RuntimeError("fixture server did not start")
            time.sleep(0.02)
        with open(self.port_file) as f:
            self.root = f"http://127.0.0.1:{int(f.read())}"
        self.base_url = self.root + self.SERVICE

    def _call(self, path: str, payload=None):
        import urllib.request

        data = None if payload is None else json.dumps(payload).encode()
        req = urllib.request.Request(self.root + path, data=data)
        with urllib.request.urlopen(req, timeout=60) as resp:
            return json.loads(resp.read())

    def reset(self) -> None:
        self._call("/__control/reset", {})

    def stats(self) -> dict:
        return self._call("/__control/stats")

    def apply(self, ops: list[dict]) -> None:
        self._call("/__control/apply", ops)

    def state(self) -> list[dict]:
        return self._call("/__control/state")

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
