"""Empty-input sweep: every registered and staged query must survive
zero rows.

C3 proved ONE query is schema-stable on empty input; this sweep proves
the rest (VERDICT r06 item 4). Each query — batch and
availableNow-drained streaming alike — runs against a fixture dir of
ZERO-ROW parquet tables carrying the real schemas, and must build,
execute, and collect without raising. Catches the classic
first()/max()-on-empty, seed-collect-on-empty, and
infer-schema-on-empty-write crashes (round 7 found and fixed nine:
st_snapshot_merge, p_profile_table, p_expectations, s_knn_bruteforce/
ivf/pq, st_incremental_agg, s_partitioned_scan_prune,
s_compaction_roundtrip).

Row counts are NOT asserted to be zero: global aggregates legitimately
produce a row (count=0), profilers a row per column, recall summaries
a zeros row. The invariant is no-crash + a non-empty column set.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from turnover_odata_etl_spark.plans import registry

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="session")
def empty_dir(tmp_path_factory, sf_dir):
    """Zero-row copies of every fixture table, real schemas preserved
    (pyarrow empty_table keeps the exact arrow schema, including the
    events ts encoding of the source fixture)."""
    d = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        schema = pq.ParquetFile(
            os.path.join(sf_dir, f"{t}.parquet")
        ).schema_arrow
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    return str(d)


SPECS = {**registry.all_specs(), **registry.staged_specs()}


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_survives_empty_input(spark, empty_dir, name):
    spec = SPECS[name]
    df = spec.fn(spark, empty_dir)
    assert df.columns, f"{name}: no columns on empty input"
    df.collect()  # must execute, not just plan
