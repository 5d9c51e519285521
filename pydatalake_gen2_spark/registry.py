"""Query-pair registry — the auditable t2 contract (SURVEY.md §2B).

Every declared operator registers here as a ``QueryPair``:

- ``spark_fn(spark, sf_dir) -> DataFrame`` — the engine-side query
  (DataFrame API or Spark SQL; both compile through Catalyst).
- ``duck_sql`` — the DuckDB oracle SQL over the same parquet files
  (None for non-SQL-expressible ops → driver does a rows-only check).
- ``tier`` — H (hash-matched), P (property-tested), S (smoke).

Determinism discipline (SURVEY.md §2B rules 1-6) is baked into query text:
exact DECIMAL(18,4) arithmetic before aggregating doubles, one final
IEEE-deterministic cast/divide, ROUND for scalar float math, sorted
list-aggs, second/µs timestamp granularity, no approximate fns in H.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from pydatalake_gen2_spark.tables import register_views


@dataclass(frozen=True)
class QueryPair:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    duck_sql: str | None
    tier: str = "H"
    doc: str = ""


REGISTRY: dict[str, QueryPair] = {}

# Views are session-global; re-register only when sf_dir changes. The memo
# lives ON the session object (not an id()-keyed dict): a dict keyed by
# id(spark) can serve a stale sf_dir to a NEW session that recycled the old
# object's id, whereas an attribute dies with the object it described.
_VIEWS_ATTR = "_pdg2_views_sf_dir"


def ensure_views(spark: SparkSession, sf_dir: str) -> None:
    if getattr(spark, _VIEWS_ATTR, None) != sf_dir:
        register_views(spark, sf_dir)
        setattr(spark, _VIEWS_ATTR, sf_dir)


def register(
    name: str,
    duck_sql: str | None = None,
    tier: str = "H",
    doc: str = "",
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable]:
    """Decorator: register a DataFrame-API query under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_views(spark, sf_dir)
            return fn(spark, sf_dir)

        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryPair(name, wrapped, duck_sql, tier, doc or fn.__doc__ or "")
        return fn

    return deco


def sql_pair(
    name: str,
    spark_sql: str,
    duck_sql: str | None = None,
    tier: str = "H",
    doc: str = "",
) -> None:
    """Register a pure SQL dialect pair; ``duck_sql`` defaults to the same text."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_views(spark, sf_dir)
        return spark.sql(spark_sql)

    if name in REGISTRY:
        raise ValueError(f"duplicate query name: {name}")
    REGISTRY[name] = QueryPair(name, run, duck_sql if duck_sql is not None else spark_sql, tier, doc)


def load_all() -> dict[str, QueryPair]:
    """Import every query module so registration side effects run."""
    import pydatalake_gen2_spark.queries  # noqa: F401

    return REGISTRY
