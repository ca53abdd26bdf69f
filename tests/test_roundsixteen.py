"""Round-16 staged queries (plans/roundsixteen.py, ``staged`` tag) —
oracle parity, run every session while the query awaits a cap ruling
(registry frozen at 221 by the r15 verdict). Mechanism deep-dives live
in tests/test_schema_evolution.py."""

from __future__ import annotations

import duckdb

from .oracle_utils import compare_spark_vs_oracle
from turnover_odata_etl_spark.plans.registry import staged_specs

STAGED = staged_specs()

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


def test_staged_specs_have_eager_oracles():
    for spec in STAGED.values():
        assert spec.oracle and spec.oracle.strip()


def test_schema_evolution_query_matches_oracle(spark, sf_dir):
    spec = STAGED["s_schema_evolution_fieldid"]
    compare_spark_vs_oracle(
        spec.fn(spark, sf_dir),
        _con(sf_dir),
        spec.oracle,
        "s_schema_evolution_fieldid",
    )


def test_curation_pipeline_matches_oracle(spark, sf_dir):
    spec = STAGED["t_curation_pipeline"]
    compare_spark_vs_oracle(
        spec.fn(spark, sf_dir),
        _con(sf_dir),
        spec.oracle,
        "t_curation_pipeline",
    )


def test_ivfpq_query_matches_oracle(spark, sf_dir):
    spec = STAGED["s_knn_ivfpq"]
    compare_spark_vs_oracle(
        spec.fn(spark, sf_dir),
        _con(sf_dir),
        spec.oracle,
        "s_knn_ivfpq",
    )
