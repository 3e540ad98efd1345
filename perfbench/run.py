"""Layered benchmark of hdfe_spark.

    python3 perfbench/run.py --workload panel_fixture --seed 1 --seconds 30 --trace 0

Run from the repository root.  One driver thread calls the public
functions of ``hdfe_spark`` one after another (a closed loop with one
client) on ``local[k]``, k = min(4, usable cores), with a pinned driver
heap.  A run:

1. generates the workload's inputs from ``--seed`` (once per seed,
   under ``.perfbench/data``; not timed);
2. brackets everything below with the capacity probes of ``bench.py``
   at pool width k;
3. sets up the session (start a SparkContext, then warm up), which
   also launches the gateway JVM;
4. runs the workload's steps in passes for ``--seconds``: the first
   pass is ``cold_pass_s``, the median of the others ``warm_pass_s``.
   ``driver_peak_rss_mb`` is the peak RSS of the Python driver plus
   the JVM inside the step timers: the peaks are reset before each
   step and read right after it.  After every step, outside its timer,
   its output is checked against numpy/pandas over the same generated
   arrays and the Spark caches are cleared, so every pass repeats the
   same work;
5. restarts the session ``SETUPS`` times on the launched JVM; the
   median restart (stop excluded) is ``setup_s``.  The restarts come
   after the passes, so the passes run on the heap the launch left and
   the restarts' garbage is not in the steps' RSS.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` every step is tagged with a job group and Spark's
status stores are read after it, and the last line carries the
per-layer metrics.  The line before it holds annotations that are not
metrics: host profile, probe values and ``host_ok``, warm-pass
quartiles and sample count, ``fail_frac``, and per-step medians.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# Host profile: k of local[k] (capped at the usable cores) and the
# driver heap, well under a 16 GiB host's RAM.  BENCHMARK.json's
# workload descriptions repeat both.
CORES = 4
DRIVER_MEM = "3g"
SETUPS = 5
MIN_WARM = 1

LAYERS = (
    "session", "sources.tables", "groupby", "lags", "encoding",
    "collinearity", "estimate", "dedup", "text", "similarity",
)
LAYER_METRICS = {
    "calls": "count", "wall_s": "s", "driver_s": "s", "plan_s": "s",
    "jobs": "count", "stages": "count", "exec_run_s": "s", "exec_cpu_s": "s",
    "shuffle_bytes": "B", "spill_bytes": "B", "py_s": "s", "failed": "count",
}
EXTRA_METRICS = {
    "sources.tables.scan_s": "s",
    "sources.tables.input_bytes": "B",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "dedup.verify_yield": "ratio",
    "trace.warm_pass_s": "s",
    "trace.read_s": "s",
}
END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "driver_peak_rss_mb": "MB"}


def usable_cores(want: int) -> int:
    """k for ``local[k]``: never more than the cores this process may use."""
    return max(1, min(want, len(os.sched_getaffinity(0))))


# ------------------------------------------------------------- host


def single_core_probe() -> float:
    """bench.py's fixed single-core numpy workload."""
    import numpy as np

    a = np.random.default_rng(7).standard_normal((700, 700))
    t0 = time.perf_counter()
    for _ in range(12):
        a = np.tanh(a @ a.T / 700.0)
    return time.perf_counter() - t0


def _probe_task(seed: int) -> float:
    import numpy as np

    a = np.random.default_rng(seed).standard_normal(400_000)
    for _ in range(40):
        a = np.tanh(a) + 0.1 * a
    return float(a[0])


PROBE_REPEATS = 3


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _capacity_probe(k: int) -> dict:
    from concurrent.futures import ThreadPoolExecutor

    def pool():
        with ThreadPoolExecutor(max_workers=k) as ex:
            list(ex.map(_probe_task, range(k)))

    single = statistics.median(_timed(lambda: _probe_task(0)) for _ in range(PROBE_REPEATS))
    par = statistics.median(_timed(pool) for _ in range(PROBE_REPEATS))
    return {
        "single_core_probe_sec": round(single_core_probe(), 4),
        "single_task_sec": round(single, 4),
        f"par{k}_sec": round(par, 4),
        "effective_parallelism": round(k * single / par, 2),
    }


def capacity_probe(k: int) -> dict:
    """bench.py's capacity probe with a pool of width k: k identical
    GIL-releasing numpy tasks on k threads, against one alone; each
    time is the median of ``PROBE_REPEATS``, which also drops the first
    call's numpy start-up.  It runs in a fresh interpreter, so the
    probes before and after a run see the same allocator state: in the
    benchmark's own process the run's large heap made the same numpy
    tasks up to twice as fast afterwards."""
    code = (
        f"import json, sys; sys.path.insert(0, {ROOT!r}); "
        f"from perfbench.run import _capacity_probe; print(json.dumps(_capacity_probe({k})))"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, check=True)
    return json.loads(out.stdout)


def host_ok(before: dict, after: dict, k: int) -> bool:
    """In band when neither the single-core probe nor the k-wide pool
    time moved by 30% or more across the run.  bench.py reads the pool
    time, not effective_parallelism, as the capacity signal: ambient
    load slows the single task more than the pool, so the ratio is
    confounded by load."""
    return all(
        1 / 1.3 < after[key] / before[key] < 1.3 for key in ("single_core_probe_sec", f"par{k}_sec")
    )


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def reset_hwm(pid: int | str = "self") -> None:
    """Set the process's VmHWM back to its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


# ---------------------------------------------------------- session


def configure_env(tmp: str, k: int) -> dict:
    """Pin the host profile and keep every file the run writes inside
    ``tmp``.  Must run before the first SparkContext starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(k)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    # glibc's per-thread malloc arenas made the JVM's native peak RSS
    # depend on thread timing; two arenas keep it a function of the work
    os.environ["MALLOC_ARENA_MAX"] = "2"
    tempfile.tempdir = tmp
    return {
        # A fixed heap (initial = max) and young generation keep G1 from
        # sizing the heap by measured pause times, which made the JVM's
        # peak RSS follow host load (1.3-1.7 GB across runs of one input).
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -Xmn512m",
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def warm_up(table):
    """One scan of the workload's first table; returns the query.
    Python-worker spawn and the JIT of the workload's own plans are
    left to the cold pass."""
    from pyspark.sql import functions as F

    df = table.agg(F.count(F.lit(1)))
    df.collect()
    return df


def set_up(workload: str, conf: dict, root: str, table: str, trace: bool):
    """Start a SparkContext and warm it up.  Returns the session, its
    tracer (None untraced) and the set-up's record."""
    from hdfe_spark.session import get_spark
    from hdfe_spark.sources.tables import load_table
    from perfbench.spark_status import Tracer, plan_seconds

    group = f"bench:{workload}:setup"
    e0, t0 = time.time(), time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
    start = time.perf_counter() - t0
    tracer = Tracer(spark) if trace else None
    if tracer is not None:
        tracer.begin(group)
    df = warm_up(load_table(spark, table, root))
    wall = time.perf_counter() - t0
    rec = {"wall_s": wall, "start_s": start, "warmup_s": wall - start, "read_s": 0.0}
    if tracer is not None:
        rec.update(tracer.read(group, e0, e0 + wall))
        rec["plan_s"] = plan_seconds(df)
        tracer.skip()
    log(f"setup {start:.2f}s + {wall - start:.2f}s")
    return spark, tracer, rec


def clear_caches(spark) -> None:
    """Drop everything a step left persisted, so passes repeat."""
    from hdfe_spark.operators import dedup

    dedup.release_query_caches()
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        jmap.get(rid).unpersist(False)


def stop_gateway() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------ passes


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def run_step(ctx, step, workload: str, tracer, jvm_pid: int) -> dict:
    """Time one call plus its sink, with the driver's and the JVM's
    peak RSS reset before it and read after it; then, outside the
    timer, read the trace (if any), check the output and clear the
    caches."""
    from perfbench.spark_status import plan_seconds

    group = f"bench:{workload}:{step.name}"
    if tracer is not None:
        tracer.begin(group)
    reset_hwm()
    reset_hwm(jvm_pid)
    out, error = None, False
    e0, t0 = time.time(), time.perf_counter()
    try:
        out = step.call(ctx)
        got = []
        for df in out.sinks:
            if out.collect == "pandas":
                got.append(df.toPandas())
            elif out.collect == "rows":
                got.append(df.collect())
            else:
                df.write.format("noop").mode("overwrite").save()
        if got:
            out.rows = got[0] if len(got) == 1 else got
    except Exception:
        traceback.print_exc(file=sys.stderr)
        error = True
    wall = time.perf_counter() - t0
    rec = {
        "step": step.name, "layer": step.layer, "wall_s": wall,
        "rss_py_mb": vm_hwm_mb(), "rss_jvm_mb": vm_hwm_mb(jvm_pid),
    }
    r0 = time.perf_counter()
    if tracer is not None:
        rec.update(tracer.read(group, e0, e0 + wall))
        rec["plan_s"] = sum(plan_seconds(df) for df in out.sinks) if out is not None else 0.0
        tracer.begin(f"bench:{workload}:check")
    rec["read_s"] = time.perf_counter() - r0
    c0 = time.perf_counter()
    if not error:
        try:
            ok = step.check(ctx, out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            log(f"check failed: {workload}:{step.name}")
            error = True
    rec["check_s"] = time.perf_counter() - c0
    if tracer is not None:
        tracer.skip()
    clear_caches(ctx.spark)
    rec["error"] = int(error)
    rec["failed"] = rec.get("failed", 0) + int(error)
    return rec


def run_pass(ctx, steps, workload, tracer, jvm_pid) -> list[dict]:
    return [run_step(ctx, s, workload, tracer, jvm_pid) for s in steps]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(warm: list[list[dict]], setups: list[dict], scratch: dict) -> dict:
    """Per-layer medians over warm passes of each layer's per-pass sums;
    the ``session`` layer's over the given set-ups (the restarts)."""
    out = {}
    for layer in LAYERS:
        if layer == "session":
            per = [[s] for s in setups]
        else:
            per = [[r for r in p if r["layer"] == layer] for p in warm]
        for m in LAYER_METRICS:
            vals = [len(rs) if m == "calls" else sum(r.get(m, 0.0) for r in rs) for rs in per]
            out[f"{layer}.{m}"] = _median(vals)
    out["sources.tables.scan_s"] = _median([sum(r.get("scan_s", 0.0) for r in p) for p in warm])
    out["sources.tables.input_bytes"] = _median([sum(r.get("input_bytes", 0.0) for r in p) for p in warm])
    out["session.start_s"] = _median([s["start_s"] for s in setups])
    out["session.warmup_s"] = _median([s["warmup_s"] for s in setups])
    out["dedup.verify_yield"] = scratch.get("verify_yield", 0.0)
    out["trace.warm_pass_s"] = _median([sum(r["wall_s"] for r in p) for p in warm])
    out["trace.read_s"] = _median([sum(r["read_s"] for r in p) for p in warm])
    return out


def quartiles(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=4) if len(xs) >= 2 else [xs[0]] * 3
    return {"median": _median(xs), "q1": q[0], "q3": q[2], "n": len(xs)}


def run(
    workload: str, seed: int, seconds: float, trace: bool, data_root: str, setups: int = SETUPS
) -> tuple[dict, dict, list]:
    """One benchmark run.  Returns ``(result, annotations, passes)``:
    the last-line object, the annotation object and every step record."""
    from perfbench import inputs, workloads

    t_run = time.perf_counter()
    k = usable_cores(CORES)
    tmp = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=os.path.join(WORK, "tmp"))
    try:
        conf = configure_env(tmp, k)
        probe_before = capacity_probe(k)
        t0 = time.perf_counter()
        root, data = inputs.GENERATORS[workload](seed, data_root)
        log(f"inputs {time.perf_counter() - t0:.2f}s")
        steps = workloads.WORKLOADS[workload]
        first_table = steps[0].name.removeprefix("scan_")

        spark, tracer, launch = set_up(workload, conf, root, first_table, trace)
        ctx = workloads.Ctx(spark, seed, root, data, trace)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

        # Cold pass, then warm passes until --seconds have passed and at
        # least MIN_WARM warm passes ran.
        passes: list[list[dict]] = []
        t_start = time.perf_counter()
        while len(passes) < 1 + MIN_WARM or time.perf_counter() - t_start < seconds:
            t0 = time.perf_counter()
            passes.append(run_pass(ctx, steps, workload, tracer, jvm_pid))
            p = passes[-1]
            log(
                f"pass {len(passes) - 1}: {sum(r['wall_s'] for r in p):.2f}s steps, "
                f"{sum(r['check_s'] for r in p):.2f}s checks, {time.perf_counter() - t0:.2f}s total"
            )
        rss_py = max(r["rss_py_mb"] for p in passes for r in p)
        rss_jvm = max(r["rss_jvm_mb"] for p in passes for r in p)

        restarts = []
        for _ in range(setups):
            spark.stop()
            spark, _, rec = set_up(workload, conf, root, first_table, trace)
            restarts.append(rec)
        spark.stop()
        stop_gateway()
        probe_after = capacity_probe(k)

        pass_s = [sum(r["wall_s"] for r in p) for p in passes]
        attempted = sum(len(p) for p in passes)
        failed = sum(r["error"] for p in passes for r in p)
        if trace:
            values = layer_metrics(passes[1:], restarts, ctx.scratch)
            units = {f"{l}.{m}": u for l in LAYERS for m, u in LAYER_METRICS.items()} | EXTRA_METRICS
        else:
            values = {
                "setup_s": _median([s["wall_s"] for s in restarts]),
                "cold_pass_s": pass_s[0],
                "warm_pass_s": _median(pass_s[1:]),
                "driver_peak_rss_mb": rss_py + rss_jvm,
            }
            units = END_TO_END
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
        }
        annotations = {
            "workload": workload,
            "seed": seed,
            "trace": int(trace),
            "host": {
                "local_k": k,
                "nproc": len(os.sched_getaffinity(0)),
                "driver_heap": DRIVER_MEM,
                "probes": [probe_before, probe_after],
                "host_ok": host_ok(probe_before, probe_after, k),
            },
            "fail_frac": failed / attempted,
            "peak_rss_mb": {"python": round(rss_py, 1), "jvm": round(rss_jvm, 1)},
            "launch_s": round(launch["wall_s"], 4),
            "setup_s": quartiles([s["wall_s"] for s in restarts]),
            "cold_pass_s": round(pass_s[0], 4),
            "warm_pass_s": quartiles(pass_s[1:]),
            "step_cold_s": {s.name: round(passes[0][i]["wall_s"], 4) for i, s in enumerate(steps)},
            "step_wall_s": {
                s.name: round(_median([p[i]["wall_s"] for p in passes[1:]]), 4) for i, s in enumerate(steps)
            },
            "run_s": round(time.perf_counter() - t_run, 2),
        }
        return result, annotations, passes
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("panel_fixture", "panel_scale", "curate_docs"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hdfe_spark", "__init__.py")):
        print(f"hdfe_spark not found under {ROOT}: run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    result, annotations, _ = run(args.workload, args.seed, args.seconds, bool(args.trace), os.path.join(WORK, "data"))
    print(json.dumps({"annotations": annotations}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
