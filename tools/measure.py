"""Optimization harness: isolate queries, time them, dump plans.

Usage: python tools/measure.py [--sf SF_DIR] [--plans-dir DIR] [--plans SUFFIX]
                               [--runs N] [--inclusive] name [name ...]

For each query name: with --plans-dir, build the DataFrame and write
.explain("formatted") to DIR/<name>_<SUFFIX>.txt (e.g. --plans-dir
plans/r15; default suffix "before", pass --plans after when
re-measuring), then time the noop-sink materialization N times
(default 3) reporting all samples and the min. --inclusive times the whole
callable (the bench's HEADLINE_INCLUSIVE / streaming-replay rule) and is
applied automatically to the queries bench.py treats that way.

A warm-up join+agg runs first so one-time JIT does not land on the first
measured query (bench.py's discipline).
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

INCLUSIVE = {
    "agg_gini_customer_spend",
    "agg_lorenz_deciles",
    "sim_mmr_diversified_topk",
    "graph_bridge_edges",
    "graph_pagerank_exact",
    "sim_pca_power_iteration_exact",
    "graph_triangle_clustering",
    "graph_triangle_estimate",
    "graph_kcore_peeling",
    "graph_connected_components",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--plans-dir", type=Path)
    ap.add_argument("--plans", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--inclusive", action="store_true")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from vector_db_core_spark.session import get_spark

    spark = get_spark(app_name="measure")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry.queries()

    # bench.py's untimed warm-up: JIT the shared codegen shapes once
    cust = spark.read.parquet(os.path.join(args.sf, "customer.parquet"))
    orders = spark.read.parquet(os.path.join(args.sf, "orders.parquet"))
    (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.sum("o_totalprice").alias("s"), F.count("*").alias("n"))
        .orderBy(F.desc("s"))
        .collect()
    )

    if args.plans_dir is not None:
        args.plans_dir.mkdir(parents=True, exist_ok=True)

    for name in args.names:
        fn = queries[name]
        inclusive = args.inclusive or name in INCLUSIVE
        spark.sparkContext.setJobDescription(f"measure:{name}")
        if args.plans_dir is not None:
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (args.plans_dir / f"{name}_{args.plans}.txt").write_text(plan)
        samples = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            if not inclusive:
                t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            samples.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        joined = "/".join(f"{s:.3f}" for s in samples)
        tag = " (inclusive)" if inclusive else ""
        print(f"measure: {name} min={min(samples):.3f}s samples {joined}{tag}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
