#!/usr/bin/env python
"""Dump .explain("formatted") for named queries to plans/<round>/.

Runs each query once (collect) so AQE reaches its final plan, then
writes the formatted explain string to
``plans/<round>/<name>_<suffix>.txt`` — the judge-checkable
before/after artifact for the optimization round. The round directory
comes from $SPARK_GRAFT_PLAN_ROUND (default r17).

Usage:
    python scripts/dump_plans.py before [sf_dir] [name1,name2,...]
    python scripts/dump_plans.py after  [sf_dir] [name1,name2,...]

With no name list, dumps every non-streaming query, registered and
``staged``-tagged alike (``registry.staged_specs()``).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else None

    from turnover_odata_etl_spark.plans import registry
    from turnover_odata_etl_spark.session import get_spark

    out_dir = os.path.join(
        REPO, "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r17")
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    specs = {**registry.all_specs(), **registry.staged_specs()}
    if names is None:
        names = [
            n for n, s in specs.items() if "streaming" not in s.tags
        ]
    for name in names:
        spec = specs.get(name)
        if spec is None:  # typo in an explicit CLI list — keep going
            print(f"[{suffix}] {name}: UNKNOWN QUERY (skipped)", flush=True)
            continue
        try:
            df = spec.fn(spark, sf_dir)
            df.collect()  # drive AQE to isFinalPlan=true
            qe = df._jdf.queryExecution()
            mode = (
                df._sc._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            plan = qe.explainString(mode)
        except Exception as exc:  # noqa: BLE001 — harness boundary
            plan = f"ERROR: {type(exc).__name__}: {exc}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"[{suffix}] {name}", flush=True)


if __name__ == "__main__":
    main()
