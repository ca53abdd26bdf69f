"""Central query registry.

Every operator in SURVEY.md §2 gets one entry here: a Spark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a DuckDB
oracle SQL string over the same parquet tables.  The driver's
correctness gate hash-compares the two at sf0.01 (row count + schema +
order-insensitive value hash, columns sorted by name) — so the Spark
result and the oracle must agree on *column names* exactly; every
computed column is aliased identically on both sides.

Conventions that keep the hash comparison robust:

- floating-point aggregates are ``round(x, 2)`` on both sides;
- timestamps cross the boundary as epoch-millis BIGINT or DATE
  (``unix_millis`` / ``epoch_ms``) unless the query is *about*
  timestamps;
- DuckDB ``sum(int)`` yields HUGEINT — oracles cast to BIGINT;
- nondeterministic top-k/limit queries always carry a total order.

Two tag families carry the inventory's bookkeeping: ``bench:<section>``
puts a query in that section of ``bench.py`` (at most one per query), and
``staged`` holds a built, oracle-tested query out of ``queries()`` and
``oracle_sql()`` until it is registered for real (drop the tag).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a Spark query with its DuckDB oracle."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags
        )
        return fn

    return deco


def promote(names: list[str]) -> None:
    """Reorder the registry so ``names`` occupy the first positions.

    The driver's correctness gate audits the first 50 registrations in
    iteration order, so registration order decides which operator
    families get oracle-checked. This lets ``plans/__init__`` curate a
    representative gate window (rotated each round so never-audited
    queries get driver rows) independent of module import order;
    queries not named keep their relative order after the promoted
    block. Every registered query — 174 at round 5 — is still checked
    locally by tests/test_oracle_parity.py regardless.
    """
    global _REGISTRY
    missing = [n for n in names if n not in _REGISTRY]
    if missing:
        raise KeyError(f"promote: unknown queries {missing}")
    promoted = set(names)
    rest = [n for n in _REGISTRY if n not in promoted]
    _REGISTRY = {n: _REGISTRY[n] for n in [*names, *rest]}


def all_specs() -> dict[str, QuerySpec]:
    """Every registered spec in registry order. Specs tagged
    ``staged`` (built and tested, held back from the driver contract)
    are left out here and in the views below; see :func:`staged_specs`."""
    return {
        name: spec for name, spec in _REGISTRY.items()
        if "staged" not in spec.tags
    }


def staged_specs() -> dict[str, QuerySpec]:
    """The ``staged``-tagged specs, for tools that time or test them."""
    return {
        name: spec for name, spec in _REGISTRY.items()
        if "staged" in spec.tags
    }


def queries() -> dict[str, SparkQuery]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_specs().items()
        if spec.oracle is not None
    }
