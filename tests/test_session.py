"""The engine session's shape: deployment settings plus the invariants
``init_session`` applies to every session the engine runs under."""

from __future__ import annotations

from vector_db_core_spark.session import get_spark

#: ``spark.sql.*`` keys a ``get_spark()`` context may carry. The first two
#: are the engine's deployment settings; Spark writes the last two itself
#: on a plain builder session too (PySpark at session start, the warehouse
#: path once the shared state starts).
ALLOWED_SQL_CONF = {
    "spark.sql.shuffle.partitions",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.artifact.isolation.enabled",
    "spark.sql.warehouse.dir",
}


def test_get_spark_sets_only_deployment_settings(spark):
    """Planning runs on Spark's own defaults, as in the plain session a
    caller may hand the engine; the session invariants (UTC time,
    nanos-as-long parquet reads) come from ``init_session``, applied by
    ``get_spark`` itself before any table is loaded."""
    spark.conf.unset("spark.vector_db_core.initialized")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    s = get_spark()
    assert s.conf.get("spark.sql.session.timeZone") == "UTC"
    assert s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    sql_keys = {k for k, _ in s.sparkContext.getConf().getAll() if k.startswith("spark.sql.")}
    assert sql_keys <= ALLOWED_SQL_CONF, sorted(sql_keys - ALLOWED_SQL_CONF)
