"""Time registry queries across fixture scales — the slope ladder.

Usage: python tools/scale_ladder.py SF_DIR[,SF_DIR...] name [name ...]

For each query and each fixture dir, prints best-of-2 wall seconds via
a noop-format sink (plan executes fully on executors, nothing funnels
through the driver). Methodology matches BASELINE.md §C's refined
batch: one tiny sf0.01 run per query first to absorb whole-stage
codegen compilation, then two timed runs per point (first-run plan
compilation plus shared-host load spikes otherwise fabricate slopes).
Streaming replays execute their pipeline inside the callable, so those
are timed inclusively (callable + sink), same as bench.py.

A slope (t_hi / t_lo per 10x data) well above 1 is only a bug when
OUTPUT doesn't grow correspondingly — the replicated fixtures give
every document N-1 exact twins, so pair-emitting dedup ops legitimately
emit quadratically-in-copies more rows; the ladder prints output row
counts so that judgment call is mechanical.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

WARM_SF = "/root/testdata/sf0.01"


def main() -> None:
    sf_dirs = sys.argv[1].split(",")
    names = sys.argv[2:]
    if not names:
        raise SystemExit(__doc__)

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    # r15: core count honors $SPARK_GRAFT_CPUS (default 32) so the
    # ladder can measure 8-vs-32-core scaling at ~sf1 — VERDICT item 3:
    # sf0.1 provably cannot demonstrate parallel scaling (every 8v32
    # ratio ≤1.03 there), so the parallelism evidence comes from here.
    import os as _os

    cpus = _os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "64g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry.queries()

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def one(name: str, sf: str) -> tuple[float, int]:
        # INCLUSIVE timing (callable + sink), always: streaming replays
        # and iterative ops (BPE training, label propagation) do their
        # real work eagerly inside the callable — sink-only timing
        # would measure an 8-row materialization and report a flat
        # slope for any input size. For lazy queries the callable adds
        # only plan-construction milliseconds.
        #
        # Output rows come from an Observation riding the SAME noop
        # save — never a separate df.count(): a second execution of a
        # heavy interpreted-eval plan in the same JVM was measured up
        # to 25x slower than the identically-shaped save it followed
        # (nondeterministic JIT/profile pathology, span ops at ~sf1+),
        # turning a 10 s measurement point into a 10 min wall stall.
        t0 = time.perf_counter()
        df = queries[name](spark, sf)
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).format("noop").save()
        return time.perf_counter() - t0, obs.get["rows"]

    for name in names:
        try:
            one(name, WARM_SF)  # absorb codegen, untimed
            cells = []
            for sf in sf_dirs:
                t1, n = one(name, sf)
                t2, _ = one(name, sf)
                cells.append(f"{sf.rstrip('/').rsplit('/', 1)[-1]}: {min(t1, t2):.2f}s "
                             f"(runs {t1:.2f}/{t2:.2f}, rows {n})")
            print(f"{name}  " + " | ".join(cells), flush=True)
        except Exception as exc:  # noqa: BLE001 - a ladder must finish
            print(f"{name}  ERROR {type(exc).__name__}: {str(exc)[:200]}", flush=True)


if __name__ == "__main__":
    main()
