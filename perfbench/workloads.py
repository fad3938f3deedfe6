"""The workloads: op lists, set-up needs and output checks.

Every workload is a closed loop with one client: ops run one after another
in one Spark application, each starting when the previous one returned.
An op's latency covers exactly its own call; output checks, cache
clean-up and bookkeeping happen between ops, outside every timed window.
Set-up ends with one untimed pass over the op list (checked like any
other), so every timed op runs on compiled plans, loaded classes and a
warmed JIT, and the first-execution cost shows in ``setup_s`` instead.

Query ops time the registered query callable (construction, including any
eager jobs it runs) plus ``collect()`` of its result, and check the rows
against the query's DuckDB oracle SQL run on the same fixture: an
order-insensitive digest of the rows as ``tests/oracle_util.normalize``
renders them. Oracle digests are computed once per fixture and cached
beside it.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

from perfbench.metrics import median, tail

#: sf0.1 rows of bench.py's HEADLINE list, one or two per operators/
#: module (reference, relational, warehouse, analytics, extra, llm,
#: pipeline), chosen to match the whole list's share of time in query
#: construction (27.5% for the list, 32% for these, timed in one warmed
#: process; 22-29% in traced benchmark runs) and its jobs per op (6.7 and
#: 6.6). None reads a shared scratch table.
CATALOG = (
    "ref_pullx_range",
    "join_broadcast_brand_volume",
    "q10_returned_item_customers",
    "q7_nation_volume_shipping",
    "timeseries_drawdown",
    "agg_ks_binned",
    "text_flesch_readability",
    "pipeline_mixture_temperature",
)

#: iterative loops and a micro-batch replay at sf0.01, timed over their
#: whole callable: lineage cuts through checkpoint.loop_checkpoint over the
#: shared co-purchase edge scratch (rebuilt in set-up), the PCA kernel's
#: applyInPandas boundary, and the Structured Streaming trigger path
LOOPS_STREAMS = (
    "graph_connected_components",
    "sim_pca_power_iteration_exact",
    "streaming_tumbling_counts_replay",
)

class CheckFailed(Exception):
    pass


@dataclass
class Op:
    name: str
    fn: Callable[[], Any]
    check: Callable[[Any], None] = lambda _out: None
    kind: str = "query"
    units: int = 0  # rows appended/read or keys looked up, for throughput


@dataclass
class Ctx:
    spark: Any
    sf_dirs: dict[str, str]  # fixture kind -> directory
    seed: int
    tracer: Any
    work_dir: str
    expected: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# query ops and their oracle checks
# ---------------------------------------------------------------------------

def _digest(columns: list[str], rows: list[tuple]) -> dict:
    from tests.oracle_util import normalize

    cols, norm = normalize(rows, columns)
    h = hashlib.sha256(repr(norm).encode())
    return {"columns": cols, "rows": len(norm), "digest": h.hexdigest()}


def oracle_digests(names: list[str], sf_dir: str, oracle_sql: dict[str, str], log) -> tuple[dict, float]:
    """DuckDB oracle digest per op, cached in ``<sf_dir>/oracle/``, and the
    seconds spent computing the ones that were not cached."""
    import duckdb

    from vector_db_core_spark.sources import TABLES

    out, con, computed_s = {}, None, 0.0
    cache_dir = os.path.join(sf_dir, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    for name in names:
        sql = oracle_sql[name]
        key = hashlib.sha256(sql.encode()).hexdigest()
        path = os.path.join(cache_dir, f"{name}.json")
        try:
            with open(path) as f:
                cached = json.load(f)
            if cached["sql_sha256"] == key:
                out[name] = cached
                continue
        except (OSError, ValueError, KeyError):
            pass
        if con is None:
            con = duckdb.connect()
            con.execute("SET TimeZone='UTC'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        t0 = time.perf_counter()
        rel = con.sql(sql)
        d = _digest([c[0] for c in rel.description], [tuple(r) for r in rel.fetchall()])
        d["sql_sha256"] = key
        computed_s += time.perf_counter() - t0
        log(f"oracle {name}: {d['rows']} rows in {time.perf_counter() - t0:.1f}s")
        with open(path + ".tmp", "w") as f:
            json.dump(d, f)
        os.replace(path + ".tmp", path)
        out[name] = d
    if con is not None:
        con.close()
    return out, computed_s


def query_op(ctx: Ctx, queries: dict, name: str, kind: str) -> Op:
    sf_dir = ctx.sf_dirs[kind]

    def fn():
        with ctx.tracer.span("build", "operators"):
            df = queries[name](ctx.spark, sf_dir)
        with ctx.tracer.span("action", "executor"):
            rows = df.collect()
        return list(df.columns), [tuple(r) for r in rows]

    def check(out):
        got = _digest(*out)
        want = ctx.expected[name]
        for k in ("columns", "rows", "digest"):
            if got[k] != want[k]:
                raise CheckFailed(f"{name}: {k} {str(got[k])[:80]} != oracle {str(want[k])[:80]}")

    return Op(name, fn, check)


@dataclass
class QueryWorkload:
    name: str
    ops: tuple[tuple[str, str], ...]  # (registered query, fixture kind)
    pass_s: float  # nominal pass time on the reference host
    edges: str | None = None  # fixture whose co-purchase edge scratch ops read

    @property
    def fixtures(self) -> tuple[str, ...]:
        return tuple(dict.fromkeys(kind for _, kind in self.ops))

    def setup_scratch(self, ctx: Ctx) -> None:
        if self.edges is not None:
            from vector_db_core_spark.operators import analytics

            analytics._co_purchase_edges_reset()
            analytics._co_purchase_edges_table(ctx.spark, ctx.sf_dirs[self.edges])

    def passes(self, ctx: Ctx, n_passes: int):
        from vector_db_core_spark.operators import QUERIES

        for _ in range(n_passes):
            yield (query_op(ctx, QUERIES, n, kind) for n, kind in self.ops)

    def after_op(self, ctx: Ctx) -> None:
        # the registry's consumer contract (operators/registry.py)
        ctx.spark.catalog.clearCache()

    def final_checks(self, ctx: Ctx) -> list[tuple[str, Callable[[], None]]]:
        return []

    def extra_metrics(self, samples: list[dict]) -> dict:
        return {}

    def close(self, ctx: Ctx) -> None:
        pass


# ---------------------------------------------------------------------------
# store_rw
# ---------------------------------------------------------------------------

STORE_SCHEMA = (
    "my_number1 INT, my_string1 STRING, my_number2 INT, "
    "my_boolean1 BOOLEAN, my_string2 STRING"
)
_S1, _S2 = "Hello, World! 你好世界 ", "This is another longer string. "


def record(gid: int, seed: int) -> dict:
    """SampleData record ``gid`` of the seed's stream (Python side)."""
    pad = (gid + seed) % 17
    return {
        "my_number1": gid,
        "my_string1": f"{_S1}{gid} {seed}",
        "my_number2": (gid * 10 + seed) % 2_147_483_647,
        "my_boolean1": (gid + seed) % 2 == 0,
        "my_string2": None if (gid * 7 + seed) % 13 == 0 else f"{_S2}{'x' * pad}{gid}",
    }


def records_df(spark, start: int, n: int, seed: int):
    """The same records built JVM-side from ``range`` (deterministic)."""
    from pyspark.sql import functions as F

    g = F.col("id")
    return spark.range(start, start + n, 1, 8).select(
        g.cast("int").alias("my_number1"),
        F.concat(F.lit(_S1), g, F.lit(f" {seed}")).alias("my_string1"),
        ((g * 10 + seed) % 2_147_483_647).cast("int").alias("my_number2"),
        ((g + seed) % 2 == 0).alias("my_boolean1"),
        F.when((g * 7 + seed) % 13 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(F.lit(_S2), F.expr(f"repeat('x', cast((id + {seed}) % 17 as int))"), g)
        ).alias("my_string2"),
    )


def lookup_rows(spark, frame, keys: list[int]) -> list:
    """Rows of ``frame`` whose ordinal is in ``keys``: one batched lookup."""
    from pyspark.sql import functions as F

    from vector_db_core_spark.store import ROWID

    kdf = spark.createDataFrame([(k,) for k in keys], f"{ROWID} BIGINT")
    return frame.where(F.col(ROWID).between(min(keys), max(keys))).join(
        F.broadcast(kdf), ROWID).collect()


def user_bytes(start: int, n: int, seed: int) -> int:
    """Bytes of the records as plain values: 4 per INT, 1 per BOOLEAN,
    UTF-8 length per non-null STRING."""
    g = np.arange(start, start + n, dtype=np.int64)
    digits = np.where(g > 0, np.floor(np.log10(np.maximum(g, 1))).astype(np.int64) + 1, 1)
    s1 = len(_S1.encode()) + digits + 1 + len(str(seed))
    s2 = np.where((g * 7 + seed) % 13 == 0, 0, len(_S2) + (g + seed) % 17 + digits)
    return int((4 + 4 + 1 + s1 + s2).sum())


def _dir_bytes_files(path: str) -> tuple[int, int]:
    total, files = 0, 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return total, files


class StoreWorkload:
    """``OrdinalStore`` reads beside writes. A pass fills an empty store in
    ``ROUNDS`` rounds; each round appends one batch, range-reads the newest
    rows, runs batched 1,000-key lookups against parquet and against a
    warmed ``hot_table``, and pushes 1,000 single rows through an
    ``IngestBuffer`` followed by a flush."""

    name = "store_rw"
    fixtures = ()
    ops = ()
    pass_s = 12.0
    ROUNDS = 3

    def __init__(self, smoke: bool):
        self.total_rows = 20_000 if smoke else 450_000
        self.range_rows = 5_000 if smoke else 50_000
        self.keys = 1_000
        self.pushes = 200 if smoke else 1_000
        self.expected_rows = 0
        self.user_bytes = 0
        self.cache_bytes = (0, 0)
        self.store = None
        self.hot = None

    def setup_scratch(self, ctx: Ctx) -> None:
        pass

    def _open(self, ctx: Ctx):
        from vector_db_core_spark.store import OrdinalStore

        path = os.path.join(ctx.work_dir, "store")
        shutil.rmtree(path, ignore_errors=True)
        self.path = path
        self.store = OrdinalStore(ctx.spark, path, schema=STORE_SCHEMA)
        self.expected_rows = 0
        self.user_bytes = 0

    def _keys(self, rng: random.Random, n_rows: int) -> list[int]:
        # skewed toward recent ordinals: offset from the newest ~ n * u^3
        return [n_rows - 1 - int(n_rows * rng.random() ** 3) for _ in range(self.keys)]

    def passes(self, ctx: Ctx, n_passes: int):
        from pyspark.sql import functions as F

        from vector_db_core_spark.cache import hot_table
        from vector_db_core_spark.store import ROWID
        from vector_db_core_spark.streaming.ingest import IngestBuffer

        seed = ctx.seed
        rng = random.Random(seed)

        def append(n):
            start = self.expected_rows

            def fn():
                self.store.pushx(records_df(ctx.spark, start, n, seed), deterministic_source=True)
                return start

            def check(first):
                if first != start:
                    raise CheckFailed(f"pushx returned first ordinal {first}, expected {start}")
                self.expected_rows += n
                self.user_bytes += user_bytes(start, n, seed)

            return Op("pushx", fn, check, "append", n)

        def range_read():
            n = self.expected_rows
            lo = max(0, n - self.range_rows)

            def fn():
                self.store.pullx(lo, n - lo).write.mode("overwrite").format("noop").save()
                return lo

            def check(_):
                got = self.store.pullx(lo, n - lo, ordered=False).agg(
                    F.count("*").alias("n"), F.min(ROWID).alias("lo"), F.max(ROWID).alias("hi")
                ).first()
                if (got.n, got.lo, got.hi) != (n - lo, lo, n - 1):
                    raise CheckFailed(f"pullx({lo}, {n - lo}) read {tuple(got)}")
                for r in sorted({lo, n - 1}):
                    row = self.store.pull_row(r).asDict()
                    if {k: row[k] for k in record(r, seed)} != record(r, seed):
                        raise CheckFailed(f"pull_row({r}) != generated record")

            return Op("pullx", fn, check, "range_read", n - lo)

        def lookup(kind: str, frame_of: Callable[[], Any]):
            n = self.expected_rows
            keys = self._keys(rng, n)

            def fn():
                return lookup_rows(ctx.spark, frame_of(), keys)

            def check(rows):
                got = sorted(r[ROWID] for r in rows)
                if got != sorted(keys):
                    raise CheckFailed(f"{kind}: {len(rows)} rows for {len(keys)} keys")
                for r in rows[:5]:
                    d = r.asDict()
                    if {k: d[k] for k in record(d[ROWID], seed)} != record(d[ROWID], seed):
                        raise CheckFailed(f"{kind}: row {d[ROWID]} != generated record")

            return Op(kind, fn, check, "lookup", len(keys))

        def warm():
            def fn():
                self.hot = hot_table(self.store.getall(ordered=False), warm=True)
                return self.hot

            def check(_):
                info = ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
                self.cache_bytes = (sum(i.memSize() for i in info), sum(i.diskSize() for i in info))

            return Op("hot_table_warm", fn, check, "warm")

        def pushes():
            start = self.expected_rows
            buf = IngestBuffer(self.store, threshold=10 * self.pushes)
            self._buf = buf

            def fn():
                for g in range(start, start + self.pushes):
                    buf.push(record(g, seed))
                return buf.lens()[0]

            def check(pending):
                if pending != self.pushes:
                    raise CheckFailed(f"buffer holds {pending} rows, expected {self.pushes}")

            return Op("ingest_push", fn, check, "accept", self.pushes)

        def flush():
            start = self.expected_rows

            def fn():
                return self._buf.flush()

            def check(flushed):
                if flushed != self.pushes:
                    raise CheckFailed(f"flush wrote {flushed} rows, expected {self.pushes}")
                self.expected_rows += flushed
                self.user_bytes += user_bytes(start, flushed, seed)

            return Op("flush", fn, check, "flush", self.pushes)

        def round_ops(n):
            yield append(n)
            yield range_read()
            yield lookup("lookup_parquet", lambda: self.store.getall(ordered=False))
            yield warm()
            yield lookup("lookup_hot", lambda: self.hot.df)
            if self.hot is not None:
                self.hot.release()
                self.hot = None
            yield pushes()
            yield flush()

        # the first pass is set-up's untimed one: the same ops on a fifth
        # of the rows compile the same plans and code paths
        for total in [self.total_rows // 5] + [self.total_rows] * (n_passes - 1):
            self._open(ctx)
            # the seed moves each round's share of a fixed total by up to
            # ±20%, so every seed appends the same rows in differently
            # sized batches
            share = total // self.ROUNDS
            cuts = [k * share + int(share * rng.uniform(-0.2, 0.2)) for k in range(1, self.ROUNDS)]
            bounds = [0, *cuts, total]
            yield (op for lo, hi in zip(bounds, bounds[1:]) for op in round_ops(hi - lo))

    def after_op(self, ctx: Ctx) -> None:
        pass

    def final_checks(self, ctx: Ctx) -> list[tuple[str, Callable[[], None]]]:
        def count():
            got = self.store.count()
            if got != self.expected_rows:
                raise CheckFailed(f"count() {got} != {self.expected_rows}")

        def spans():
            spans = self.store.ordered_spans()  # raises on a gap or overlap
            if sum(s.n_rows for s in spans) != self.expected_rows:
                raise CheckFailed("ordered_spans() rows != appended rows")

        return [("count", count), ("ordered_spans", spans)]

    def extra_metrics(self, samples: list[dict]) -> dict:
        def of(kind):
            return [s for s in samples if s["kind"] == kind and s["ok"]]

        app, rr, lk, fl = of("append"), of("range_read"), of("lookup"), of("flush")
        lookups = [s["latency_s"] for s in lk]
        on_disk, files = _dir_bytes_files(self.path)
        lt, lp, ln = tail(lookups) if lookups else (0.0, 0.0, 0)
        return {
            "append_rows_per_s": sum(s["units"] for s in app) / max(sum(s["latency_s"] for s in app), 1e-9),
            "range_read_rows_per_s": sum(s["units"] for s in rr) / max(sum(s["latency_s"] for s in rr), 1e-9),
            "lookup_p50_s": median(lookups) if lookups else 0.0,
            "lookup_tail_s": lt,
            "lookup_tail_percentile": lp,
            "lookup_samples": ln,
            "flush_s": median([s["latency_s"] for s in fl]) if fl else 0.0,
            "space_amp": on_disk / max(self.user_bytes, 1),
            "store_bytes": on_disk,
            "store_files": files,
            "user_bytes": self.user_bytes,
            "cache_mem_bytes": self.cache_bytes[0],
            "cache_disk_bytes": self.cache_bytes[1],
        }

    def close(self, ctx: Ctx) -> None:
        if self.hot is not None:
            self.hot.release()


def make(name: str, smoke: bool):
    def on(kind: str, names: tuple[str, ...]) -> tuple[tuple[str, str], ...]:
        return tuple((n, "sf0.01" if smoke else kind) for n in names)

    if name == "sf01_catalog":
        return QueryWorkload(name, on("sf0.1", CATALOG) + on("sf0.01", LOOPS_STREAMS),
                             pass_s=15.0, edges="sf0.01")
    if name == "store_rw":
        return StoreWorkload(smoke)
    raise ValueError(name)


WORKLOADS = ("sf01_catalog", "store_rw")
