"""Tests of the benchmark's own parts: the fixture server, the output
checks, and the event-log reducer on a small real event log.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import glob
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import common  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402

SMALL = {
    "seed": 3, "delay_s": 0.0,
    "etl": {"n_values": 4, "n_rows": 400, "page_size": 20, "distinct_page_size": 100,
            "fail_share": 1.0},
    "sync": {"n_rows": 50, "page_size": 20, "delta_page_size": 4},
}


@pytest.fixture()
def fixture(tmp_path):
    fx = common.Fixture(SMALL, str(tmp_path))
    yield fx
    fx.stop()


def test_fixture_counts_kinds_and_fails_each_page_once_per_epoch(fixture):
    from turnover_odata_etl_spark.sources.odata_client import ODataClient

    client = ODataClient(fixture.root, common.Fixture.SERVICE, backoff=0.0)
    values = client.distinct_values(gen.ETL_ENTITY, gen.STRUCT)
    assert len(values) == SMALL["etl"]["n_values"]
    assert any("'" in v for v in values)
    for _ in range(2):
        fixture.reset()
        rows = [
            r for page in client.fetch_pages(
                gen.ETL_ENTITY, filter_=f"{gen.STRUCT} eq '{values[0].replace(chr(39), chr(39) * 2)}'"
            ) for r in page
        ]
        st = fixture.stats()
        pages = st["requests"]["page"]
        assert rows and pages == -(-len(rows) // SMALL["etl"]["page_size"])
        # fail_share=1: every page answers 503 once in each epoch
        assert st["requests"]["retried"] == pages
        assert st["bytes_served"] > 0 and st["busy_s"] > 0
        assert list(st["partition_spans"]) == [values[0]]


def _write_csv(path, header, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.csv"), "w", newline="") as f:
        w = csv.writer(f, escapechar="\\", doublequote=False)
        w.writerow(header)
        w.writerows(rows)


def test_csv_check_counts_a_corrupted_csv_as_failed(tmp_path):
    from wl_ingest import CSV_HEADER, OdataIngest

    rows, _ = gen.etl_entity(5, 4, 200, 20)
    wl = OdataIngest.__new__(OdataIngest)
    wl.csv_out = str(tmp_path / "out")
    wl.expected = gen.etl_expected(rows)
    good = sorted(wl.expected, key=lambda r: (r[5], r[0]))
    ops = common.OpLog()

    _write_csv(wl.csv_out, CSV_HEADER, good)
    assert ops.run(wl.check_csv)
    bad = [list(r) for r in good]
    bad[3][4] = str(int(bad[3][4]) + 1)
    _write_csv(wl.csv_out, CSV_HEADER, bad)
    assert not ops.run(wl.check_csv)
    _write_csv(wl.csv_out, CSV_HEADER, good[:-1])
    assert not ops.run(wl.check_csv)
    assert (ops.attempted, ops.failed, ops.wrong) == (3, 2, 2)


@pytest.fixture(scope="module")
def spark_with_eventlog(tmp_path_factory):
    logdir = tmp_path_factory.mktemp("eventlog")
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.eventLog.enabled=true",
        f"--conf spark.eventLog.dir=file://{logdir}",
        "--conf spark.eventLog.compress=false",
        "--conf spark.eventLog.rolling.enabled=false",
        "pyspark-shell",
    ])
    from turnover_odata_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench-tests")
    yield spark, str(logdir)
    common.stop_spark(spark)


def test_reducer_attributes_jobs_tasks_and_python_metrics(spark_with_eventlog):
    import time

    spark, logdir = spark_with_eventlog
    switch = common.EventLogSwitch(spark)
    switch.detach()
    spark.range(10).collect()  # not logged: listener detached
    switch.attach()

    def ident(batches):
        yield from batches

    ops = []
    for op_id, fn in (
        ("op-py", lambda: spark.range(0, 50_000, numPartitions=2)
            .mapInPandas(ident, "id long").groupBy().count().collect()),
        ("op-jvm", lambda: spark.range(100).collect()),
    ):
        spark.sparkContext.setJobGroup(op_id, op_id)
        t0 = time.time()
        fn()
        ops.append({"op": op_id, "start": t0, "end": time.time()})
    spark.sparkContext.setJobGroup("between-ops", "between-ops")
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    out = eventlog.reduce(eventlog.load(logdir), ops)
    py, jvm = out["op-py"], out["op-jvm"]
    assert py["jobs"] >= 1 and py["tasks"] >= 2 and py["stages"] >= 1
    assert py["python_bytes_sent"] > 0 and py["python_bytes_returned"] > 0
    assert py["python_worker_run_s"] > 0
    assert py["shuffle_write_bytes"] > 0
    assert jvm["jobs"] >= 1 and jvm["python_bytes_sent"] == 0
    for o in ops:
        wall = o["end"] - o["start"]
        assert 0 <= out[o["op"]]["driver_only_s"] <= wall
    both = eventlog.summarize([py, jvm])
    assert both["jobs"] == (py["jobs"] + jvm["jobs"]) / 2
    assert both["task_max_s"] == max(py["task_s"] + jvm["task_s"])


def test_wrong_query_answer_counts_every_op_as_failed(spark_with_eventlog, tmp_path):
    from wl_queries import QueryMix

    spark, _ = spark_with_eventlog

    class Ctx:
        seed = 1
        paths = {"data": str(tmp_path)}
        tracer = common.Tracer()
        ops = common.OpLog()

        def op(self, kind):
            return self.tracer.span("op", kind=kind)

    ctx = Ctx()
    ctx.spark = spark
    wl = QueryMix(ctx)
    os.makedirs(wl.dir)
    gen.write_tables(1, 0.001, wl.dir)
    wl.props = {}
    from turnover_odata_etl_spark.plans import registry

    good = registry.all_specs()["flagship_turnover"]
    bad = registry.QuerySpec(
        name=good.name, oracle=good.oracle,
        fn=lambda s, d: good.fn(s, d).limit(1),
    )
    for specs, failed in (({"flagship_turnover": good}, 0), ({"flagship_turnover": bad}, 2)):
        ctx.ops.reset()
        wl.specs = specs
        wl.warmup(ctx)
        wl.one_pass(ctx)
        wl.one_pass(ctx)
        assert (ctx.ops.attempted, ctx.ops.failed) == (2, failed)
    assert glob.glob(os.path.join(wl.dir, "*.parquet"))


def test_op_latency_is_geometric_mean_of_per_kind_medians():
    assert common.op_latency({"ingest": [3.0, 1.0, 2.0]}) == pytest.approx(2.0)
    # Two kinds whose medians are 1 and 4: the middle op would be
    # either of them, the geometric mean is 2.
    assert common.op_latency({"a": [1.0, 1.0], "b": [4.0, 4.0]}) == pytest.approx(2.0)
    assert common.op_latency({}) == 0.0


def test_benchmark_json_lists_what_run_py_prints():
    import json

    import run

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
