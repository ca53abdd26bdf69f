"""The query inventory as data: registry size, staging, bench sections.

Registration, staging (the ``staged`` tag) and bench membership (one
``bench:<section>`` tag) all live on the specs themselves; these checks
need no SparkSession. Registering a staged query moves the two counts
below.
"""

from __future__ import annotations

import bench
from turnover_odata_etl_spark.plans import registry

REGISTERED = 221  # the frozen cap (r15 ruling)
STAGED = 3


def _bench_tags(spec):
    return [t for t in spec.tags if t.startswith("bench:")]


def test_registry_and_staged_counts():
    assert len(registry.all_specs()) == REGISTERED
    assert len(registry.staged_specs()) == STAGED


def test_staged_specs_stay_out_of_the_driver_contract():
    staged = set(registry.staged_specs())
    assert not staged & set(registry.all_specs())
    assert not staged & set(registry.queries())
    assert not staged & set(registry.oracle_sql())


def test_bench_tags_name_one_known_section():
    for name, spec in bench.bench_specs().items():
        tags = _bench_tags(spec)
        assert len(tags) <= 1, (name, tags)
        for tag in tags:
            assert tag.removeprefix("bench:") in bench.SECTIONS, (name, tag)


def test_every_section_is_non_empty():
    members = bench.section_queries()
    assert list(members) == list(bench.SECTIONS)
    for section, names in members.items():
        assert names, section


def test_staged_sections_hold_only_staged_specs():
    staged = registry.staged_specs()
    for section, names in bench.section_queries().items():
        if section.startswith("staged_"):
            assert set(names) <= set(staged), (section, names)
