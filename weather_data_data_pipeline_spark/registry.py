"""Named-query registry: the engine's public query surface.

Every operator from SURVEY.md §2 (and every north-star extension) registers
here as a (spark_fn, oracle_sql) pair. ``__spark_entry__.py`` re-exports
this for the correctness driver; tests iterate it for local oracle parity.

Contract (driver): each spark_fn takes (spark, sf_dir) and returns a
DataFrame whose column NAMES match the oracle SQL's output columns —
the driver sorts columns by name before value-hashing.

Order: ``queries()`` / ``query_names()`` list the oracle-bearing queries
in registration order (the order their ``@register`` decorators ran),
then the rows-only queries in registration order.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL twin for DuckDB; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    # For oracle=None queries ONLY (engine-specific hash families, float
    # iteration): the machine-readable closure argument — either the name
    # of an oracle-checked registered TWIN query that replays the same
    # algorithm portably (e.g. minhash_dedup_pairs →
    # minhash_dedup_pairs_portable), or a "tests/<file>" path whose units
    # pin the operator to ground truth / error bounds. A unit test
    # (tests/test_registry_order.py) asserts every rows-only query
    # declares one and that it resolves.
    verified_by: str | None = None


_REGISTRY: dict[str, Query] = {}

# Modules that register queries on import.
_QUERY_MODULES = (
    "weather_data_data_pipeline_spark.plans.reference_queries",
    "weather_data_data_pipeline_spark.plans.relational_queries",
    "weather_data_data_pipeline_spark.plans.tpch_remaining",
    "weather_data_data_pipeline_spark.plans.llm_queries",
    "weather_data_data_pipeline_spark.plans.corpus_queries",
    "weather_data_data_pipeline_spark.plans.maintenance_queries",
    "weather_data_data_pipeline_spark.plans.timeseries_queries",
    "weather_data_data_pipeline_spark.plans.weather_queries",
    "weather_data_data_pipeline_spark.plans.selection_queries",
    "weather_data_data_pipeline_spark.plans.curation_queries",
)

_loaded = False


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    verified_by: str | None = None,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        for other in _REGISTRY.values():
            if other.fn is fn:
                # stacked @register decorators would bind two names to
                # ONE function; each registered name must map to a
                # distinct callable
                raise ValueError(
                    f"query {name!r} would re-register the same function "
                    f"already bound to {other.name!r}"
                )
        _REGISTRY[name] = Query(
            name, fn, oracle, doc or (fn.__doc__ or ""), tags, verified_by
        )
        return fn

    return deco


def _ensure_loaded() -> None:
    global _loaded
    if not _loaded:
        for mod in _QUERY_MODULES:
            importlib.import_module(mod)
        _loaded = True


def _ordered() -> list[Query]:
    """Registry values in registration order, every ORACLE-BEARING query
    ahead of every rows-only one (a stable sort), so any prefix of
    ``query_names()`` is fully hash-checkable against its DuckDB twin."""
    return sorted(_REGISTRY.values(), key=lambda q: q.oracle is None)


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {q.name: q.fn for q in _ordered()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {q.name: q.oracle for q in _ordered() if q.oracle is not None}


def query_names() -> list[str]:
    _ensure_loaded()
    return [q.name for q in _ordered()]


def get_query(name: str) -> Query:
    _ensure_loaded()
    return _REGISTRY[name]
