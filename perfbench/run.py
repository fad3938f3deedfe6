"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload sf01_catalog --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke          # every op list once at sf0.01

Run from the root of a checkout. Everything the run writes (fixtures,
oracle digests, Spark scratch and event logs, result artifacts) goes under
``.bench_build/perfbench/`` in that checkout.

Set-up (process start to the first timed op) ends with one untimed pass
over the workload's ops; the timed passes follow. Every reported time is
net of hypervisor steal (``_net_of_steal``): on a shared 4-vCPU host,
three store_rw passes of the same code took 14.3-20.9 s of wall time while
steal moved between 3% and 21% of CPU time, and 13.8-14.4 s net of it. The
artifact keeps the elapsed times too.

``--trace 0`` measures the end-to-end metrics with no instrumentation.
``--trace 1`` is a separate run of the same workload with Spark's event log
on and timing wrappers around each layer's public functions; it prints the
per-layer metrics, and its artifact holds every span and every op's layer
metrics. A traced run also reports its overhead against the newest
untraced artifact of the same workload, seed and length, and which exact
counters repeated bit-for-bit since the previous traced artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


T0, T0_TICKS = time.perf_counter(), _cpu_ticks()


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _meminfo() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) // 1024  # MB
    return out


def configure(trace: bool) -> dict:
    """Host-sized session settings, applied through the environment before
    the JVM starts (confs set on a builder before ``get_spark()`` do not
    carry over)."""
    build = os.path.join(ROOT, ".bench_build", "perfbench")
    tmp = os.path.join(build, "tmp", str(os.getpid()))
    dirs = {k: os.path.join(build, k) for k in ("fixtures", "results", "eventlog", "spark-local")}
    for d in (*dirs.values(), tmp):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    driver_mb = min(4096, _meminfo()["MemTotal"] // 4)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
    }
    submit = [
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)}",
        f"--conf {shlex.quote('spark.sql.warehouse.dir=' + os.path.join(tmp, 'warehouse'))}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{dirs['eventlog']}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ.update(env)
    os.environ.update({
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join(submit) + " pyspark-shell",
    })
    time.tzset()
    return {"env": env, "tmp": tmp, **dirs}


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: never leave a JVM behind
            proc.kill()
            proc.wait(timeout=30)


def _cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Share of this host's CPU time that was busy, idle and stolen by the
    hypervisor between two ``/proc/stat`` readings: steal is host noise
    the numbers cannot show otherwise."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": 1 - (d[3] + d[4]) / total, "idle": d[3] / total, "steal": d[7] / total}


def _net_of_steal(elapsed: float, before: list[int], after: list[int]) -> float:
    """``elapsed`` less the share of it the hypervisor withheld the CPU.

    The benchmark's vCPUs share their host with other machines. Time a vCPU
    was runnable but not running is counted as steal in ``/proc/stat``; the
    stolen share of all non-idle CPU time between two readings is the share
    by which the host slowed the program down, so the program's own time is
    ``elapsed * (1 - steal / non_idle)``. On an uncontended host steal is 0
    and this is the plain wall time."""
    d = [b - a for a, b in zip(before, after)]
    non_idle = sum(d) - d[3] - d[4]
    return elapsed * (1 - d[7] / non_idle) if non_idle > 0 else elapsed


def _jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (AttributeError, OSError):
        pass
    return 0.0


def _short(exc: BaseException) -> str:
    first = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {first[0][:300] if first else ''}"


def _host_facts(spark, cfg: dict, manifests: dict[str, dict], seed: int) -> dict:
    import duckdb
    import pyarrow

    conf = dict(spark.sparkContext.getConf().getAll())
    keep = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.join.preferSortMergeJoin",
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "spark.eventLog.enabled", "spark.eventLog.compress", "spark.eventLog.rolling.enabled")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "env": cfg["env"],
        "confs": {k: conf.get(k) for k in keep},
        "mem_available_mb": _meminfo()["MemAvailable"],
        "versions": {"spark": spark.version, "python": platform.python_version(),
                     "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__},
        "commit": _commit(),
        "fixtures": {kind: {t: {k: v[k] for k in ("rows", "row_groups", "bytes")}
                            for t, v in m["tables"].items()} for kind, m in manifests.items()},
        "seed": seed,
    }


def _commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def _run_pass(ctx, wl, ops, p: int, warm: bool, samples: list[dict]) -> float:
    """Run one pass of ``ops``, appending a sample per op; return the sum of
    the ops' latencies (net of steal). Each op's output check runs after its
    timed call."""
    sc, tracer = ctx.spark.sparkContext, ctx.tracer
    wall = 0.0
    for op in ops:
        i = len(samples)
        group = f"{op.name}#{i}"
        sc.setJobGroup(group, op.name)
        err, out = None, None
        with tracer.span(op.name, "op", sample=i) as span:
            ticks, t0 = _cpu_ticks(), time.perf_counter()
            try:
                out = op.fn()
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                err = _short(exc)
                log(f"{op.name} FAILED:\n{traceback.format_exc()}")
            elapsed = time.perf_counter() - t0
            dt = _net_of_steal(elapsed, ticks, _cpu_ticks())
        sc.setJobGroup(f"check#{i}", "check")
        if err is None:
            try:
                op.check(out)
            except Exception as exc:  # noqa: BLE001 - a failed check fails the op
                err = _short(exc)
                log(f"{op.name} CHECK FAILED: {err}")
        wl.after_op(ctx)
        samples.append({"op": op.name, "kind": op.kind, "pass": p, "warm_up": warm,
                        "latency_s": dt, "elapsed_s": elapsed, "ok": err is None, "error": err,
                        "units": op.units, "group": group, "span": span["id"] if span else None})
        wall += dt
    return wall


def run_workload(name: str, seed: int, seconds: float, trace: bool, smoke: bool, cfg: dict,
                 t_start: float, ticks_start: list[int]) -> dict:
    """One workload in its own Spark application; ``t_start`` (with the CPU
    counters then) is when its process (or, in a smoke run, its turn)
    began, where setup_s starts."""
    from perfbench import fixture, metrics, tracing, workloads
    from vector_db_core_spark.session import get_spark

    load_start = os.getloadavg()
    phases = {"imports": time.perf_counter() - t_start}
    wl = workloads.make(name, smoke)
    sf_dirs, manifests = {}, {}
    # one-time builds of fixtures and oracle digests (the first run in a
    # checkout) are not set-up: their time is taken out of setup_s
    build_s = 0.0
    for kind in wl.fixtures:
        t0 = time.perf_counter()
        sf_dirs[kind], manifests[kind], built = fixture.ensure(kind, cfg["fixtures"], log)
        if built:
            build_s += time.perf_counter() - t0
            log(f"fixture {kind} built in {time.perf_counter() - t0:.1f}s (outside measurement)")
    tracer = tracing.Tracer(trace)
    ctx = workloads.Ctx(None, sf_dirs, seed, tracer, cfg["tmp"])
    if sf_dirs:
        import __spark_entry__ as entry

        for kind, sf_dir in sf_dirs.items():
            names = [n for n, k in wl.ops if k == kind]
            digests, computed_s = workloads.oracle_digests(names, sf_dir, entry.oracle_sql(), log)
            ctx.expected.update(digests)
            build_s += computed_s
    phases["fixture_oracle"] = time.perf_counter() - t_start - phases["imports"]
    phases["one_time_builds"] = build_s
    instr = tracing.Instrumentation(tracer)
    if trace:
        instr.install()
    spark = None
    # a smoke run makes the untimed pass only
    n_passes = 0 if smoke else max(1, round(seconds / wl.pass_s))
    passes = wl.passes(ctx, 1 + n_passes)
    samples, pass_walls = [], []
    try:
        # set-up is cold, as for any fresh process: the session launches
        # its JVM, fixtures are verified, shared scratch is rebuilt, and one
        # untimed pass compiles every op's plans and code paths
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{name}")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        with tracer.span("setup", "setup"):
            for kind in wl.fixtures:
                if fixture.verify(kind, cfg["fixtures"]) is None:
                    raise RuntimeError(f"fixture {kind} changed on disk")
            t1 = time.perf_counter()
            wl.setup_scratch(ctx)
            scratch_s = time.perf_counter() - t1
            t1 = time.perf_counter()
            _run_pass(ctx, wl, next(passes), -1, True, samples)
            phases["warm_up_pass"] = time.perf_counter() - t1
        setup_elapsed_s = time.perf_counter() - t_start - build_s
        setup_s = _net_of_steal(setup_elapsed_s, ticks_start, _cpu_ticks())
        phases["session_to_first_op"] = time.perf_counter() - t0
        sc = spark.sparkContext
        app_id = sc.applicationId
        t_measure, ticks = time.perf_counter(), _cpu_ticks()
        for p, ops in enumerate(passes):
            pass_walls.append(_run_pass(ctx, wl, ops, p, False, samples))
        measured_s = time.perf_counter() - t_measure
        cpu = _cpu_shares(ticks, _cpu_ticks())
        sc.setJobGroup("final_checks", "final_checks")
        final = {}
        for check_name, fn in wl.final_checks(ctx):
            try:
                fn()
                final[check_name] = "ok"
            except Exception as exc:  # noqa: BLE001
                final[check_name] = _short(exc)
                log(f"final check {check_name} FAILED: {final[check_name]}")
        timed = [s for s in samples if not s["warm_up"]]
        extra = wl.extra_metrics(timed)
        rss = _jvm_peak_rss_mb()
        facts = _host_facts(spark, cfg, manifests, seed)
        phases["measure_checks"] = time.perf_counter() - t_measure
    finally:
        wl.close(ctx)
        instr.remove()
        if spark is not None:
            t_phase = time.perf_counter()
            _stop(spark)
            phases["stop"] = time.perf_counter() - t_phase
    facts["loadavg"] = {"start": load_start, "end": os.getloadavg()}
    facts["cpu_during_measurement"] = cpu

    ok_lat = [s["latency_s"] for s in timed if s["ok"]] or [float("nan")]
    tail_v, tail_p, tail_n = metrics.tail(ok_lat)
    failed = sum(1 for s in samples if not s["ok"])
    e2e = {
        "setup_s": setup_s,
        "wall_s": metrics.median(pass_walls) if pass_walls else float("nan"),
        "op_p50_s": metrics.median(ok_lat),
        "op_tail_s": tail_v,
    }
    result = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace), "smoke": smoke,
        "passes": n_passes, "measured_s": measured_s,
        "attempted": len(samples), "failed": failed,
        "correct": failed == 0 and all(v == "ok" for v in final.values()),
        "end_to_end": e2e,
        "op_tail": {"percentile": tail_p, "samples": tail_n},
        "error_rate": failed / max(len(samples), 1),
        "store": extra,
        "setup": {"setup_s": setup_s, "setup_elapsed_s": setup_elapsed_s,
                  "session_start_s": session_s, "scratch_build_s": scratch_s},
        "pass_walls_s": pass_walls,
        "pass_elapsed_s": [sum(s["elapsed_s"] for s in timed if s["pass"] == p) for p in range(n_passes)],
        "phases_s": phases,
        "final_checks": final,
        "samples": samples,
        "host": facts,
    }
    if trace:
        result["layers"] = _layers(tracer, timed, app_id, cfg, session_s, scratch_s, rss, extra, n_passes)
        result["spans"] = tracer.spans
    try:
        os.remove(os.path.join(cfg["eventlog"], app_id))
    except OSError:
        pass
    return result


def _layers(tracer, samples, app_id, cfg, session_s, scratch_s, rss, extra, n_passes) -> dict:
    from perfbench import metrics, tracing

    # uncompressed, non-rolling: one plain JSON-lines file per application
    log_ = tracing.EventLog(os.path.join(cfg["eventlog"], app_id))
    per_op = []
    for s in samples:
        m = tracing.op_layer_metrics(log_, tracer, tracer.spans[s["span"]], s["group"])
        per_op.append({"op": s["op"], "pass": s["pass"], "metrics": m})
    totals: dict[str, float] = {}
    for rec in per_op:
        for k, v in rec["metrics"].items():
            totals[k] = totals.get(k, 0.0) + v
    layer = {k: totals.get(k, 0.0) / max(n_passes, 1) for k in metrics.PER_LAYER}
    wall = sum(s["elapsed_s"] for s in samples)
    layer["executor.busy_cores"] = totals.get("executor.run_s", 0.0) / wall if wall else 0.0
    layer["session.start_s"] = session_s
    layer["session.jvm_peak_rss_mb"] = rss
    layer["scratch.build_s"] = scratch_s
    layer["cache.mem_bytes"] = float(extra.get("cache_mem_bytes", 0))
    layer["cache.disk_bytes"] = float(extra.get("cache_disk_bytes", 0))
    layer["store.bytes_written"] = float(extra.get("store_bytes", 0))
    layer["store.files"] = float(extra.get("store_files", 0))
    keys = sum(s["units"] for s in samples if s["op"] == "lookup_parquet")
    read = sum(r["metrics"]["scan.input_records"] for r in per_op if r["op"] == "lookup_parquet")
    layer["store.rows_read_per_key"] = read / keys if keys else 0.0
    return {"per_layer": layer, "per_op": per_op, "self_time_s": tracing.self_times(tracer),
            "should_move": {k: metrics.should_move(k) for k in metrics.PER_LAYER}}


def _compare_previous(result: dict, results_dir: str) -> dict:
    """Tracing overhead against the newest untraced artifact of the same
    workload/seed/length, and the exact counters that repeated bit-for-bit
    since the newest traced one."""
    from perfbench import metrics

    prefix = f"{result['workload']}-seed{result['seed']}-s{result['seconds']:g}-"
    prev = {0: None, 1: None}
    for fn in sorted(os.listdir(results_dir)):
        if fn.startswith(prefix) and fn.endswith(".json"):
            with open(os.path.join(results_dir, fn)) as f:
                prev[json.load(f)["trace"]] = os.path.join(results_dir, fn)
    out = {}
    if prev[0]:
        with open(prev[0]) as f:
            base = json.load(f)
        out["overhead_wall_s"] = result["end_to_end"]["wall_s"] - base["end_to_end"]["wall_s"]
        out["overhead_vs"] = os.path.basename(prev[0])
    if prev[1]:
        with open(prev[1]) as f:
            other = json.load(f)["layers"]
        mine = result["layers"]
        repeated, differed = [], []
        per_op_keys = mine["per_op"][0]["metrics"] if mine["per_op"] else {}
        for c in metrics.EXACT_COUNTERS:
            if c in per_op_keys:
                same = [(a["op"], a["metrics"][c]) for a in mine["per_op"]] == [
                    (b["op"], b["metrics"].get(c)) for b in other["per_op"]]
            else:  # run-level counters (store layout)
                same = mine["per_layer"][c] == other["per_layer"][c]
            (repeated if same else differed).append(c)
        out["exact_counters_repeated"] = repeated
        out["exact_counters_differed"] = differed
        out["repeat_vs"] = os.path.basename(prev[1])
    return out


def _report(result: dict) -> None:
    from perfbench import metrics

    w = result["workload"]
    log(f"{w}: seed {result['seed']}, {result['passes']} pass(es), "
        f"{result['attempted']} ops, {result['failed']} failed, correct={result['correct']}")
    for k, v in result["end_to_end"].items():
        log(f"  {k:24s} {v:.4f} s")
    log(f"  {'elapsed (with steal)':24s} setup {result['setup']['setup_elapsed_s']:.4f} s, "
        f"passes {[round(x, 4) for x in result['pass_elapsed_s']]} s")
    tail = result["op_tail"]
    log(f"  {'op_tail percentile':24s} p{tail['percentile']:.0f} of {tail['samples']} samples")
    log(f"  {'error_rate':24s} {result['error_rate']:.4f} ratio")
    for k, unit in metrics.STORE_END_TO_END.items():
        if k in result["store"]:
            log(f"  {k:24s} {result['store'][k]:.4f} {unit}")
    h = result["host"]
    log(f"  host: nproc {h['nproc']}, env {h['env']}, loadavg {h['loadavg']}, "
        f"cpu while measuring {h['cpu_during_measurement']}, "
        f"MemAvailable {h['mem_available_mb']} MB, versions {h['versions']}, commit {h['commit']}")
    if "comparison" in result:
        log(f"  trace comparison: {json.dumps(result['comparison'])}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload's op list once at sf0.01, with all checks")
    args = ap.parse_args(argv)

    missing = [p for p in ("vector_db_core_spark/__init__.py", "tests/oracle_util.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        log(f"engine sources missing from this checkout: {missing}")
        return 2
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != os.path.dirname(os.path.abspath(__file__))]
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    names = workloads.WORKLOADS if args.smoke and not args.workload else [args.workload]
    if names == [None] or any(n not in workloads.WORKLOADS for n in names):
        log(f"--workload must be one of {workloads.WORKLOADS}")
        return 2
    cfg = configure(bool(args.trace))
    results, t_start, ticks_start = [], T0, T0_TICKS
    try:
        for name in names:
            result = run_workload(name, args.seed, args.seconds, bool(args.trace), args.smoke, cfg,
                                  t_start, ticks_start)
            stamp = time.strftime("%Y%m%dT%H%M%S")
            fn = f"{name}-seed{args.seed}-s{args.seconds:g}-{stamp}-{os.getpid()}.json"
            if args.trace and not args.smoke:
                result["comparison"] = _compare_previous(result, cfg["results"])
            with open(os.path.join(cfg["results"], fn), "w") as f:
                json.dump(result, f)
            _report(result)
            log(f"artifact: {os.path.join(cfg['results'], fn)}")
            results.append(result)
            t_start, ticks_start = time.perf_counter(), _cpu_ticks()
    finally:
        shutil.rmtree(cfg["tmp"], ignore_errors=True)

    from perfbench import metrics

    if args.trace:
        chosen = {k: (u, results[-1]["layers"]["per_layer"][k]) for k, u in metrics.PER_LAYER.items()}
    else:
        chosen = {k: (u, results[-1]["end_to_end"][k]) for k, u in metrics.END_TO_END.items()}
    line = {
        "correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": {k: {"value": metrics.finite(v), "unit": u} for k, (u, v) in chosen.items()},
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
