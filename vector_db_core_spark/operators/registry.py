"""Query registry — the bridge to the driver contract.

Every operator in the engine registers a named query callable
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) the
equivalent ANSI SQL the DuckDB oracle runs on the same parquet tables.
``__spark_entry__.queries()`` / ``oracle_sql()`` read these dicts.

Oracle-matching rules used throughout (see functions/exact.py):
  * identical column aliases on both sides (driver sorts by name);
  * float aggregates computed in exact DECIMAL then cast to DOUBLE,
    so results are order-independent and bit-identical;
  * type-normalizing CASTs in the SQL where DuckDB widens differently
    (count/length/year → BIGINT vs Spark's INT, etc.).

A query leaves no cached data behind: an operator that materializes an
intermediate either releases it before returning or cuts it with
``checkpoint.loop_checkpoint``, whose blocks belong to the returned
DataFrame and are freed once the caller drops it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and optional DuckDB oracle SQL) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco
