"""SparkSession factory for this engine.

``get_spark`` sets deployment settings only: the ``local[$SPARK_GRAFT_CPUS]``
master (default all cores), a shuffle width of that many partitions,
driver memory, no UI, and Arrow transfer for the few pandas-UDF
operators. Query planning runs on Spark's own defaults (AQE,
skew-join splitting, partition coalescing, join selection), the same
ones a plain ``SparkSession`` plans with. The engine's session
invariants (UTC time, nanos-as-long parquet reads) come from
``init_session``, which also applies them to a session the caller built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from vector_db_core_spark.sources.loaders import init_session


def get_spark(app_name: str = "vector_db_core_spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``spark.sql.shuffle.partitions`` is the local core count — on a
    real cluster this would be ~2-3x total executor cores, and AQE
    coalesces the excess at runtime anyway.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)
    spark = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return init_session(spark)
