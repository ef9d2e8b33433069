"""Query catalog: the driver-facing inventory of implemented operators.

Each entry couples a PySpark plan builder with the ANSI-SQL oracle the
driver runs through DuckDB on the same parquet tables (pre-registered
views: region nation customer supplier part orders lineitem events
documents embeddings). Contract (see __spark_entry__.py):

* builder(spark, sf_dir) -> DataFrame
* oracle: equivalent SQL, or None for non-SQL-expressible ops
  (driver then records a weaker rows-only check)
* column names must match exactly — every computed column is aliased
  identically on both sides.

Determinism rules applied throughout (SURVEY.md §7.4):
* double aggregates go through DECIMAL(38,10) on both sides, then cast
  back to DOUBLE — exact, order-independent, hash-stable;
* every top-k has a total-order tiebreaker;
* per-row double outputs are rounded to 6 dp on both sides;
* timestamps compare in UTC (session.configure_for_oracle).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
R = TypeVar("R")


@dataclass
class CatalogEntry:
    name: str
    builder: QueryFn
    oracle: str | None
    #: SURVEY.md §2 operator ids this query exercises (judge cross-ref).
    covers: tuple[str, ...] = field(default=())
    #: queries included in bench.py's headline set
    bench: bool = False


_REGISTRY: dict[str, CatalogEntry] = {}


def register(
    name: str,
    oracle: str | None,
    covers: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate catalog entry: {name}")
        _REGISTRY[name] = CatalogEntry(name, fn, oracle, covers, bench)
        return fn

    return deco


def catalog() -> dict[str, CatalogEntry]:
    _load_all()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: e.builder for name, e in catalog().items()}


def oracle_sql() -> dict[str, str]:
    return {name: e.oracle for name, e in catalog().items() if e.oracle is not None}


def run_query(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    action: Callable[[DataFrame], R],
) -> R:
    """Build a query, run ``action`` on it, then release every persist
    the query made; returns the action's result.

    The query is the one lifetime for cached state. Operators that feed
    one intermediate to several consumers persist it MEMORY_AND_DISK
    and return a lazy plan that still reads the cache, so they cannot
    unpersist it themselves; run_query calls
    ``spark.catalog.clearCache()`` in a ``finally`` instead, whether the
    action succeeded or raised. Nothing a query persists outlives it,
    so the next query recomputes from the source, also when the data
    at a path was rewritten in between.

    Driver-side values a build collects (bm25 corpus stats, query
    vectors, trained PQ books) are recomputed by every build, never
    memoized. The one memo left is model.load_table's plan memo: it
    holds no data and lives on the session object.

    clearCache drops EVERY cache entry of the session, including ones
    the caller persisted before the call, and an already-built plan
    whose entry was dropped recomputes its upstream per consumer — so
    build a fresh DataFrame inside ``build`` for every run.
    """
    try:
        return action(build())
    finally:
        spark.catalog.clearCache()


_LOADED = False


def _load_all() -> None:
    """Import every module that registers catalog entries."""
    global _LOADED
    if _LOADED:
        return
    from fegis_spark.queries import (  # noqa: F401
        aggregates,
        bitext_q,
        dedup,
        filters_q,
        importance_q,
        joins,
        lineage_q,
        media_q,
        pipeline_q,
        ranking_q,
        search_q,
        stream_q,
        text_q,
        textstats_q,
        tpch_q,
        vector_q,
    )

    _LOADED = True
