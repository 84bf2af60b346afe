"""Query registry — single source of truth for the operator inventory.

Every operator from SURVEY.md §2 is registered exactly once with:
- a Spark builder `(spark, sf_dir) -> DataFrame`,
- its DuckDB oracle SQL (or None for non-SQL-expressible ops),
- its tier ([C]ore / [V]erification-implied / [X] extension).

`__spark_entry__.py` exposes this registry to the driver's correctness
harness; tests iterate it to run the same comparison locally. Every
dict returned here is in registration order: module import order in
`queries/__init__.py`, then decorator order within each module.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB ANSI SQL; None => driver does rows-only check
    tier: str  # 'C' | 'V' | 'X'
    doc: str


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, tier: str = "C", doc: str = ""):
    """Decorator: register a query builder under `name`."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query key: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, tier=tier, doc=doc or (fn.__doc__ or "")
        )
        return fn

    return deco


def _ensure_loaded() -> None:
    # Import for side effects: each module registers its queries.
    import database_cloner_spark.queries  # noqa: F401


def all_queries() -> dict[str, Builder]:
    _ensure_loaded()
    return {k: s.builder for k, s in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {k: s.oracle for k, s in _REGISTRY.items() if s.oracle is not None}


def get_query(name: str) -> QuerySpec:
    _ensure_loaded()
    return _REGISTRY[name]


def specs() -> dict[str, QuerySpec]:
    _ensure_loaded()
    return dict(_REGISTRY)
