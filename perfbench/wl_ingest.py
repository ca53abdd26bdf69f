"""``odata_ingest``: the reference's daily job against the fixture
gateway, in the two forms the engine offers, as one op.

One op (an "ingest") is:

1. a full ETL run, ``etl.extract`` → ``etl.transform`` →
   ``etl.sink_csv``, over the reference-shaped V2 entity: schema
   probe, partition-key discovery, one partition per structure value
   fetched in parallel by the Python DataSource reader, dedup, sort,
   single CSV file;
2. ``odata_sync.sync_entity`` of the change-tracked V4 entity into the
   snapshot table: a sequential delta pager on the driver, then one
   merge commit.

A pass is two cycles. A cycle is: the fixture applies a seeded change
batch; the ingest, whose CSV is compared with the answer computed in
pure Python from the generated rows; ``expire_snapshots``, after which
the table is compared with the fixture's state (one check covers the
sync and the expire); ``read_keys`` on just-changed and cold keys,
checked against that state (read after write). Set-up does the initial
tracked read and its commit, then one pass.
"""

from __future__ import annotations

import csv
import glob
import os
import shutil

import common
import gen

ETL = {
    "n_rows": 12_000, "page_size": 100, "distinct_page_size": 2_000,
    "fail_share": 0.03,
}
SYNC = {"n_rows": 20_000, "page_size": 1_000, "delta_page_size": 25}
DELAY_S = 0.004
UPDATES, INSERTS, DELETES = 60, 15, 5
N_BUCKETS = 16
KEEP_LAST = 2
READ_HOT, READ_COLD = 10, 10
# Two cycles per pass: one ingest per run would put a single sample
# behind op_latency_s.
CYCLES_PER_PASS = 2
WARMUP_PASSES = 1
CSV_HEADER = ["Employee", "Employee ID", "Date From", "Date To", "K Cleavers", "Structure"]


def _user_bytes(row: dict) -> int:
    return sum(len(str(v).encode()) for v in row.values())


class OdataIngest:
    name = "odata_ingest"
    op_kind = "ingest"

    def __init__(self, ctx):
        self.ctx = ctx
        self.fixture = None
        self.spec = {
            "seed": ctx.seed,
            "delay_s": DELAY_S,
            "etl": {**ETL, "n_values": 4 * ctx.nproc},
            "sync": SYNC,
        }
        self.csv_out = os.path.join(ctx.paths["data"], "etl_out")
        self.table = os.path.join(ctx.paths["data"], "synced")
        self.op_stats: list[dict] = []

    # -- set-up -------------------------------------------------------------

    def prepare(self, ctx) -> None:
        from turnover_odata_etl_spark.etl import ETLConfig
        from turnover_odata_etl_spark.sources.odata_client import ODataClient

        self.teardown()
        e = self.spec["etl"]
        rows, self.etl_props = gen.etl_entity(ctx.seed, e["n_values"], e["n_rows"], e["page_size"])
        self.expected = gen.etl_expected(rows)
        self.rows_in = sum(1 for r in rows if r[gen.STRUCT])
        self.src = gen.SyncSource(ctx.seed, SYNC["n_rows"], UPDATES, INSERTS, DELETES)
        self.fixture = common.Fixture(self.spec, os.path.join(ctx.paths["data"], "fixture"))
        ctx.mem.exclude = {self.fixture.proc.pid}
        self.cfg = ETLConfig(
            base_url=self.fixture.root, service_path=common.Fixture.SERVICE,
            entity=gen.ETL_ENTITY,
        )

        class TimedClient(ODataClient):
            def fetch_delta(self, link):
                with ctx.tracer.span("sources.delta_fetch"):
                    return super().fetch_delta(link)

        self.client = TimedClient(self.fixture.root, common.Fixture.SERVICE)
        self.cycle = 0
        self.user_bytes_changed = 0

    def warmup(self, ctx) -> None:
        """The initial tracked read and commit, then a few passes."""
        self._sync()
        if not self.check_table():
            raise RuntimeError("odata_ingest: initial load differs from the fixture")
        for _ in range(WARMUP_PASSES):
            self.one_pass(ctx)
        if ctx.ops.failed:
            raise RuntimeError("odata_ingest: warm-up ops failed")
        ctx.ops.reset()
        self.op_stats.clear()
        self.user_bytes_changed = 0

    # -- ops ----------------------------------------------------------------

    def one_pass(self, ctx) -> None:
        for _ in range(CYCLES_PER_PASS):
            self.cycle += 1
            batch = self.src.batch(self.cycle)
            self.fixture.apply(batch)
            self.user_bytes_changed += sum(
                _user_bytes(o["row"]) if o["op"] == "upsert" else len(o["key"]) for o in batch
            )
            ctx.ops.run(self.ingest_op, ctx)
            ctx.ops.run(self.expire_op, ctx)
            ctx.ops.run(self.read_op, ctx)

    def _sync(self):
        from turnover_odata_etl_spark.sources.odata_sync import sync_entity

        with self.ctx.tracer.span("odata_sync.sync_entity"):
            return sync_entity(
                self.ctx.spark, self.client, gen.SYNC_ENTITY, self.table, "Id",
                gen.SYNC_FIELDS, n_buckets=N_BUCKETS,
            )

    def ingest_op(self, ctx) -> bool:
        from turnover_odata_etl_spark import etl

        before = self._files()
        self.fixture.reset()
        with ctx.op(self.op_kind):
            with ctx.tracer.span("etl.extract"):
                df = etl.extract(ctx.spark, self.cfg)
            with ctx.tracer.span("etl.transform"):
                out = etl.transform(df, self.cfg)
            with ctx.tracer.span("etl.sink"):
                etl.sink_csv(out, self.csv_out)
            self._sync()
        after = self._files()
        new = set(after) - set(before)
        self.op_stats.append({
            **self.fixture.stats(),
            "segment": ctx.tracer.segment,
            "bytes_written": sum(after[p] for p in new),
            "files_written": len(new),
        })
        return self.check_csv()

    def read_op(self, ctx) -> bool:
        from turnover_odata_etl_spark.storage import SnapshotTable

        keys = self.src.read_keys(READ_HOT, READ_COLD)
        with ctx.op("read"):
            with ctx.tracer.span("storage.read_keys"):
                rows = SnapshotTable.load(ctx.spark, self.table).read_keys(keys).collect()
        got = {r["Id"]: tuple(r[f] for f in gen.SYNC_FIELDS) for r in rows}
        want = {
            k: tuple(self.state[k][f] for f in gen.SYNC_FIELDS)
            for k in keys if k in self.state
        }
        return got == want

    def expire_op(self, ctx) -> bool:
        from turnover_odata_etl_spark.storage import SnapshotTable

        with ctx.op("expire"):
            with ctx.tracer.span("storage.expire"):
                SnapshotTable.load(ctx.spark, self.table).expire_snapshots(keep_last=KEEP_LAST)
        # One table check per pass, after the sync and the expire.
        return self.check_table()

    # -- checks -------------------------------------------------------------

    def check_csv(self) -> bool:
        """The CSV holds exactly the expected rows, sorted by structure
        then employee."""
        rows, header = [], None
        for p in sorted(glob.glob(os.path.join(self.csv_out, "part-*.csv"))):
            with open(p, newline="") as f:
                reader = csv.reader(f, escapechar="\\", doublequote=False)
                header = next(reader)
                rows.extend(tuple(r) for r in reader)
        self.rows_out = len(rows)
        keys = [(r[5], r[0]) for r in rows]
        return (
            header == CSV_HEADER
            and len(rows) == len(self.expected)
            and set(rows) == self.expected
            and keys == sorted(keys)
        )

    def check_table(self) -> bool:
        """The synced table equals the fixture's current state."""
        from turnover_odata_etl_spark.sources.odata_sync import read_synced

        self.state = {r["Id"]: r for r in self.fixture.state()}
        pdf = read_synced(self.ctx.spark, self.table).toPandas()
        got = {tuple(r) for r in pdf[gen.SYNC_FIELDS].itertuples(index=False)}
        want = {tuple(r[f] for f in gen.SYNC_FIELDS) for r in self.state.values()}
        return len(pdf) == len(want) and got == want

    def _files(self) -> dict[str, int]:
        out = {}
        for dp, _d, names in os.walk(self.table):
            for n in names:
                p = os.path.join(dp, n)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
        return out

    # -- metrics ------------------------------------------------------------

    def metrics(self, ctx, segment: str):
        from turnover_odata_etl_spark.storage import SnapshotTable

        t = ctx.tracer
        ops = t.of("op", segment)
        ingest_s = [s["end"] - s["start"] for s in ops if s["kind"] == self.op_kind]
        etl_by_op: dict[str, float] = {}
        for s in t.spans:
            if s["segment"] == segment and s["name"].startswith("etl.") and "end" in s:
                etl_by_op[s["op"]] = etl_by_op.get(s["op"], 0.0) + s["end"] - s["start"]
        etl_s = list(etl_by_op.values())
        sync_s = t.durations("odata_sync.sync_entity", segment)
        delta_s = t.durations("sources.delta_fetch", segment)
        stats = [s for s in self.op_stats if s["segment"] == segment]
        n = max(1, len(stats))
        reqs = {
            k: sum(s["requests"][k] for s in stats) / n
            for k in ("metadata", "probe", "distinct", "page", "full", "delta", "retried")
        }
        reqs["page"] += reqs.pop("full")
        spans = [v for s in stats for v in s["partition_spans"].values()]
        files = self._files()
        table = SnapshotTable.load(ctx.spark, self.table)
        busy = sum(s["busy_s"] for s in stats)
        layers = {f"sources.requests_{k}": v for k, v in reqs.items()}
        layers.update({
            "source_requests_per_op": sum(reqs.values()),
            "sources.bytes_served": sum(s["bytes_served"] for s in stats) / n,
            "sources.partitions": self.etl_props["key_values"],
            "sources.inflight_max": max((s["inflight_max"] for s in stats), default=0),
            "etl.rows_in": self.rows_in,
            "etl.rows_out": self.rows_out,
            "etl.rows_kept_ratio": self.rows_out / self.rows_in,
            "storage.bytes_written": sum(s["bytes_written"] for s in stats) / n,
            "storage.files_written": sum(s["files_written"] for s in stats) / n,
            "storage.files_live": len(table.files()),
            "storage.snapshots_live": len(table.snapshot_ids()),
            "storage.metadata_bytes": sum(v for p, v in files.items() if p.endswith(".json")),
            "write_bytes_per_user_byte": (
                sum(s["bytes_written"] for s in self.op_stats) / max(1, self.user_bytes_changed)
            ),
            "stored_bytes_per_user_byte": (
                sum(files.values()) / max(1, sum(_user_bytes(r) for r in self.state.values()))
            ),
        })
        report = {
            "workload": self.name,
            "inputs": {"etl": self.etl_props, "sync": self.src.props()},
            "fixture_spec": self.spec,
            "odata_etl.op_p50_s": common.median(etl_s),
            "table_sync.op_p50_s": common.median(sync_s),
            "table_sync.read_p50_s": common.median(
                s["end"] - s["start"] for s in ops if s["kind"] == "read"
            ),
            "rows_per_s": self.rows_in / common.median(etl_s) if etl_s else 0.0,
            "layer_times": {
                "etl.extract_s": common.median(t.durations("etl.extract", segment)),
                "etl.transform_s": common.median(t.durations("etl.transform", segment)),
                "etl.sink_s": common.median(t.durations("etl.sink", segment)),
                "sources.distinct_span_s": common.median(s["distinct_span_s"] for s in stats),
                "sources.partition_span_p50_s": common.median(spans),
                "sources.partition_span_max_s": max(spans, default=0.0),
                "sources.delta_fetch_s": common.median(delta_s),
                "storage.sync_commit_s": common.median(sync_s) - common.median(delta_s),
                "storage.read_keys_s": common.median(t.durations("storage.read_keys", segment)),
                "storage.expire_s": common.median(t.durations("storage.expire", segment)),
                "fixture.busy_s": busy / n,
                "fixture.busy_share_of_ingest": busy / sum(ingest_s) if ingest_s else 0.0,
            },
        }
        return {"op_latency_s": common.op_latency({self.op_kind: ingest_s})}, layers, report

    def teardown(self) -> None:
        if self.fixture is not None:
            self.fixture.stop()
            self.fixture = None
        shutil.rmtree(self.csv_out, ignore_errors=True)
        shutil.rmtree(self.table, ignore_errors=True)
