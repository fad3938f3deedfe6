"""Lineage cut for iterative loop state — one switch, not a code edit.

The graph/PCA loops (pagerank, k-core, connected components, bridge
edges, the streaming CC inside ``graph_bridge_edges``) must truncate
lineage every round or the ANALYZED plan grows ~5x per round and the
driver burns minutes rendering plan strings (the r14 jstack-verified
finding). ``localCheckpoint`` is the right local-mode cut — cheap,
no filesystem round-trip — but it pins blocks to executors with NO
fault tolerance: on a real cluster an executor loss after the cut
kills the query, and at 100 TB an hours-long iterative loop WILL see
one (r14 verdict, "What's wrong" #2). The deployment decision
therefore lives here, conf/env-gated, instead of being re-made at six
call sites:

  * default (local mode, the bench): ``localCheckpoint`` — executor
    loss == application loss anyway, so reliability buys nothing.
  * cluster: set ``spark.vdbc.checkpointDir`` (session conf) or
    ``$SPARK_GRAFT_CHECKPOINT_DIR`` (env) to a fault-tolerant path
    (HDFS/S3); every loop then uses reliable ``checkpoint()``, which
    survives executor loss at the cost of a filesystem write per cut.

The same cut materializes any intermediate a query's returned
DataFrame reads more than once (a view feeding two branches, a rank
table whose partitioning must not change between a count and its
use). Unlike ``persist()`` it registers nothing in the session's
CacheManager: the stored blocks belong to the returned DataFrame, and
Spark's ContextCleaner frees them once the caller drops that frame
and the JVM collects it — no caller-side ``clearCache()``. Reliable
checkpoint files stay on the filesystem unless
``spark.cleaner.referenceTracking.cleanCheckpoints`` is set.

The conf is read per call so tests (and a long-lived session that
reconfigures) observe changes; the SparkContext checkpoint dir is set
idempotently on first reliable use.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_CONF_KEY = "spark.vdbc.checkpointDir"
_ENV_KEY = "SPARK_GRAFT_CHECKPOINT_DIR"


def _reliable_dir(df: DataFrame) -> str | None:
    """The configured fault-tolerant checkpoint dir, or None for the
    local default. Session conf wins over the environment so one
    process can host differently-configured tests."""
    try:
        d = df.sparkSession.conf.get(_CONF_KEY)
    except Exception:
        d = None
    return d or os.environ.get(_ENV_KEY) or None


def loop_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage for use as iterative loop state.

    Returns a DataFrame whose plan is a scan of materialized blocks
    (local mode) or checkpoint files (cluster mode) — never the
    accumulated iteration chain. ``eager`` matches the
    ``localCheckpoint``/``checkpoint`` parameter: True materializes
    now, False on the next action.
    """
    d = _reliable_dir(df)
    if d is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    current = sc._jsc.sc().getCheckpointDir()
    if not current.isDefined() or current.get() != d:
        sc.setCheckpointDir(d)
    return df.checkpoint(eager=eager)
