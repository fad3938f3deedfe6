"""Metric catalogue. Names, units and directions come from
``BENCHMARK.json``; this module adds what that file has no room for: the
store-only end-to-end metrics, and which end-to-end metric on which
workload each per-layer metric should move.

A timing is reported as its median and as the highest percentile that
has at least ten samples beyond it, with that percentile and the sample
count beside the value.
"""

from __future__ import annotations

import json
import math
import os
import statistics

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)

#: end-to-end metric -> unit, printed by every workload with ``--trace 0``.
#: ``op_tail_s`` is reported in the artifact and on stderr but not gated:
#: with 11-21 timed ops per run it is the slowest op, and its run-to-run
#: spread reaches the largest bound allowed.
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
#: per-layer metric -> unit, printed with ``--trace 1``
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

#: end-to-end metrics of ``store_rw`` only (stderr report and artifact)
STORE_END_TO_END = {
    "append_rows_per_s": "rows/s",
    "range_read_rows_per_s": "rows/s",
    "lookup_p50_s": "s",
    "lookup_tail_s": "s",
    "flush_s": "s",
    "space_amp": "ratio",
}

_CAT, _RW = "sf01_catalog", "store_rw"
#: per-layer metric prefix or name -> [(end-to-end metric, workload), ...]
#: it should move; the longest matching key wins. Scan- and executor-bound
#: work is the store's (parallel appends, range reads, lookups); the
#: catalog's single-task scans leave its time on the driver.
SHOULD_MOVE = {
    "session.": [("setup_s", "*")],
    "sources.": [("wall_s", _CAT), ("op_p50_s", _CAT)],
    "operators.": [("wall_s", _CAT)],
    "planning.": [("op_p50_s", _CAT)],
    "scan.": [("wall_s", _RW), ("lookup_tail_s", _RW)],
    "scan.tasks": [("wall_s", _RW)],
    "exchange.": [("op_tail_s", _CAT)],
    "executor.": [("wall_s", _RW)],
    "executor.jobs": [("wall_s", _RW), ("op_p50_s", _CAT)],
    "executor.tasks": [("wall_s", _RW), ("op_p50_s", _CAT)],
    "functions.": [("op_tail_s", _CAT)],
    "scratch.": [("setup_s", _CAT)],
    "checkpoint.": [("wall_s", _CAT)],
    "cache.": [("lookup_p50_s", _RW)],
    "store.": [("append_rows_per_s", _RW)],
    "store.bytes_written": [("space_amp", _RW)],
    "store.files": [("lookup_tail_s", _RW), ("space_amp", _RW)],
    "store.rows_read_per_key": [("lookup_tail_s", _RW)],
    "ingest.": [("flush_s", _RW)],
    "streaming.": [("op_p50_s", _CAT)],
}


def should_move(name: str) -> list[tuple[str, str]]:
    return SHOULD_MOVE[max((k for k in SHOULD_MOVE if name.startswith(k)), key=len)]


#: per-layer metrics that are exact counts: two traced runs of one seed
#: are expected to repeat them bit-for-bit
EXACT_COUNTERS = tuple(name for name, unit in PER_LAYER.items() if unit in ("count", "bytes", "rows"))


def tail(samples: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest percentile of ``samples``
    with at least ten samples beyond it. Below 20 samples that percentile
    would sit at or under the median, so the slowest sample is reported
    instead (percentile 100); the percentile and ``n`` say which."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def finite(x: float) -> float:
    return x if math.isfinite(x) else 0.0
