"""``query_mix``: registered queries over generated tables, each written
to the noop sink, in a seed-permuted order each pass.

One op is one query: ``spec.fn`` (``plans.build``, which includes any
eager jobs the query runs) then the noop write (``plans.exec``). The
warm-up pass collects every result instead and compares its row count
and order-insensitive hash with DuckDB over the registry's oracle SQL;
a query whose warm-up answer is wrong counts every one of its timed
ops as failed.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
from datetime import date, datetime

import common
import gen

SCALE = 0.01
# query -> family (per-family totals in the report)
QUERIES = {
    "flagship_turnover": "operators.relational",
    "e6_q21_suppliers_kept_waiting": "operators.relational",
    "t_tfidf_topterms": "functions.text",
    "d_minhash_lsh_neardup": "operators.dedup",
    "s_knn_bruteforce": "operators.similarity",
    "m_png_decode_features": "functions.codec",
    "st_tumbling_window": "streaming.window",
}
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_cell(x) for x in v)
    if hasattr(v, "item"):
        return _cell(v.item())
    if isinstance(v, (str, int, bool)):
        return v
    try:
        import pandas as pd

        if isinstance(v, pd.Timestamp):
            return _cell(v.to_pydatetime())
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) over columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(repr(tuple(_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    for line in norm:
        h.update(line.encode())
    return len(norm), h.hexdigest()


class QueryMix:
    name = "query_mix"
    op_kind = "query"

    def __init__(self, ctx):
        self.dir = os.path.join(ctx.paths["data"], "tables")
        self.wrong: dict[str, bool] = {}
        self.passes = 0

    def prepare(self, ctx) -> None:
        from turnover_odata_etl_spark.plans import registry

        os.makedirs(self.dir, exist_ok=True)
        self.props = gen.write_tables(ctx.seed, SCALE, self.dir)
        self.specs = {n: registry.all_specs()[n] for n in QUERIES}

    def warmup(self, ctx) -> None:
        """One pass in registry order that checks every answer, then
        one unchecked pass like the timed ones."""
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        for name, spec in self.specs.items():
            pdf = spec.fn(ctx.spark, self.dir).toPandas()
            got = result_digest(list(pdf.columns), pdf.itertuples(index=False))
            rel = con.sql(spec.oracle)
            want = result_digest(rel.columns, rel.fetchall())
            self.wrong[name] = got != want
        con.close()
        self.one_pass(ctx)
        ctx.ops.reset()

    def one_pass(self, ctx) -> None:
        self.passes += 1
        order = list(self.specs)
        random.Random(ctx.seed * 1_000 + self.passes).shuffle(order)
        for name in order:
            ctx.ops.run(self.op, ctx, name)

    def op(self, ctx, name: str) -> bool:
        with ctx.op(self.op_kind) as rec:
            rec["query"] = name
            with ctx.tracer.span("plans.build"):
                df = self.specs[name].fn(ctx.spark, self.dir)
            with ctx.tracer.span("plans.exec"):
                df.write.format("noop").mode("overwrite").save()
        return not self.wrong[name]

    def metrics(self, ctx, segment: str):
        t = ctx.tracer
        ops = t.of("op", segment)
        per_query: dict[str, list[float]] = {}
        for s in ops:
            per_query.setdefault(s["query"], []).append(s["end"] - s["start"])
        n_passes = max(1, min(len(v) for v in per_query.values()) if per_query else 1)
        families: dict[str, float] = {}
        for q, ds in per_query.items():
            families[QUERIES[q]] = families.get(QUERIES[q], 0.0) + sum(ds) / n_passes
        report = {
            "workload": self.name,
            "inputs": {**self.props, "scale": SCALE, "queries": len(QUERIES)},
            "wrong_queries": sorted(q for q, w in self.wrong.items() if w),
            "layer_times": {
                "plans.build_s": common.median(t.durations("plans.build", segment)),
                "plans.exec_s": common.median(t.durations("plans.exec", segment)),
                **{f"{k}_s": v for k, v in sorted(families.items())},
                **{f"query.{q}_s": common.median(v) for q, v in sorted(per_query.items())},
            },
        }
        layers = {"sources.partitions": 0}
        return {"op_latency_s": common.op_latency(per_query)}, layers, report

    def teardown(self) -> None:
        pass
