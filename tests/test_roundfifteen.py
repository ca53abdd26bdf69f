"""Round-15 queries (plans/roundfifteen.py) — oracle parity.
Registered round 16 per the r15 cap ruling (cap 218 -> 221, frozen
there). Mechanism deep-dives live in tests/test_quality.py."""

from __future__ import annotations

import duckdb

from .oracle_utils import compare_spark_vs_oracle
from turnover_odata_etl_spark.plans.registry import all_specs

R15 = ("t_quality_classifier", "s_snapshot_tag_gc", "s_group_wap_rebuild")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def test_roundfifteen_is_registered_with_eager_oracles():
    """The r15 cap ruling executed in round 16: all three round-15
    queries are registered with eager oracles; cap 218 -> 221,
    frozen there."""
    specs = all_specs()
    for name in R15:
        assert name in specs, name
        assert specs[name].oracle and specs[name].oracle.strip()


def test_quality_classifier_matches_oracle(spark, sf_dir):
    spec = all_specs()["t_quality_classifier"]
    compare_spark_vs_oracle(
        spec.fn(spark, sf_dir),
        _con(sf_dir),
        spec.oracle,
        "t_quality_classifier",
    )


def test_tag_gc_query_matches_oracle(spark, sf_dir):
    spec = all_specs()["s_snapshot_tag_gc"]
    compare_spark_vs_oracle(
        spec.fn(spark, sf_dir),
        _con(sf_dir),
        spec.oracle,
        "s_snapshot_tag_gc",
    )


def test_group_wap_rebuild_matches_oracle(spark, sf_dir):
    spec = all_specs()["s_group_wap_rebuild"]
    compare_spark_vs_oracle(
        spec.fn(spark, sf_dir),
        _con(sf_dir),
        spec.oracle,
        "s_group_wap_rebuild",
    )
