"""loop_checkpoint (vector_db_core_spark/checkpoint.py): the iterative
loops' lineage cut must stay ``localCheckpoint`` in local mode (the
bench's measured path) and switch to reliable ``checkpoint()`` when a
fault-tolerant dir is configured — one switch, not six code edits
(r14 verdict, "What's wrong" #2)."""

from __future__ import annotations

import os

from vector_db_core_spark.checkpoint import _CONF_KEY, loop_checkpoint


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_default_uses_local_checkpoint(spark):
    assert not os.environ.get(
        "SPARK_GRAFT_CHECKPOINT_DIR"
    ), "test environment must not preconfigure a checkpoint dir"
    had_dir = spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    df = spark.range(100).withColumnRenamed("id", "node")
    out = loop_checkpoint(df, eager=True)
    # lineage is cut to materialized blocks: the plan is a bare RDD scan
    assert "LogicalRDD" in _plan(out)
    assert out.count() == 100
    # the local branch must not configure a reliable dir as a side effect
    assert (
        spark.sparkContext._jsc.sc().getCheckpointDir().isDefined() == had_dir
    )


def test_reliable_when_conf_set(spark, tmp_path):
    ckdir = str(tmp_path / "ck")
    spark.conf.set(_CONF_KEY, ckdir)
    try:
        df = spark.range(50).withColumnRenamed("id", "node")
        out = loop_checkpoint(df, eager=True)
        assert out.count() == 50
        # reliable checkpoints write files under the configured dir
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(ckdir)
            for f in fs
        ]
        assert files, "reliable checkpoint wrote nothing under the dir"
        assert "LogicalRDD" in _plan(out)
    finally:
        spark.conf.unset(_CONF_KEY)


def test_loop_blocks_freed_once_frame_dropped(spark):
    """A query leaves no cached data behind without any clearCache():
    graph_connected_components' checkpointed labels belong to the
    returned frame, and once the caller drops it the ContextCleaner
    releases every persistent RDD the query created (bounded poll of
    Python gc plus a JVM System.gc())."""
    import gc
    import time

    from tests.conftest import SF_ORACLE
    from vector_db_core_spark.operators import QUERIES

    sc = spark.sparkContext

    def live() -> int:
        return sc._jsc.getPersistentRDDs().size()

    def collect_garbage() -> None:
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.2)

    for _ in range(3):  # settle blocks earlier tests already dropped
        collect_garbage()
    base = live()
    df = QUERIES["graph_connected_components"](spark, SF_ORACLE)
    df.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert live() > base, "the returned frame should own checkpointed blocks"
    del df
    for _ in range(50):
        collect_garbage()
        if live() <= base:
            break
    assert live() <= base, f"{live()} persistent RDDs left, baseline {base}"
