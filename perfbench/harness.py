"""Set-up, the measured loop and the metrics of one benchmark process."""

from __future__ import annotations

import gc
import hashlib
import os
import shlex
import shutil
import statistics
import time
import traceback

from perfbench.eventlog import EventLog, summarize
from perfbench.layers import FUNCTIONS, LAYER_MAP, WORKLOADS
from perfbench.trace import NullTracer, Tracer, report_name, self_times
from perfbench.workloads import dir_bytes

CLK_TCK = os.sysconf("SC_CLK_TCK")


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("jobs", "calls", "stages", "tasks", "rdds_after_run")):
        return "count"
    if name == "host.loadavg_1m":
        return "load"
    return "ratio"


# ------------------------------------------------------------- processes

def _proc_cpu_s(pid: int | str) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK  # utime + stime


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def source_sha(root: str) -> str:
    """Content hash of the program and the benchmark (the checkout the
    benchmark runs in is not a git repository)."""
    h = hashlib.sha256()
    for top in ("databricks_flight_etl_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(root, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:12]


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- session

def _launch(work: str, heap: str, trace: bool):
    """The library's own session factory, pointed at the work dir. The
    event-log confs go in at JVM start, and only for the traced run."""
    for d in ("tmp", "local", "warehouse", "derby", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    confs = {
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    submit = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_WAREHOUSE_DIR=os.path.join(work, "warehouse"),
        DERBY_SYSTEM_HOME=os.path.join(work, "derby"),
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_DRIVER_MEMORY=heap,
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )
    from databricks_flight_etl_spark.session import get_spark

    return get_spark("perfbench", cpus=cores(), driver_memory=heap)


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _clear_cache(spark) -> None:
    """Drop every persisted frame and RDD and collect garbage on both
    sides, so runs start alike and a run pays for none of the last
    run's garbage."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    gc.collect()
    spark._jvm.java.lang.System.gc()


def _live_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _wait_for_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


# -------------------------------------------------------------- one run

class Runner:
    def __init__(self, spark, workload: str, state, work: str):
        self.spark, self.state, self.work = spark, state, work
        _, self.run_fn, self.check_fn = WORKLOADS[workload]
        self.n = 0
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.written: list[float] = []

    def once(self, tr) -> float | None:
        """One pipeline run: wall seconds, or None if it raised or its
        output failed the check."""
        self.n += 1
        self.attempted += 1
        run_dir = os.path.join(self.work, f"run{self.n}")
        _clear_cache(self.spark)
        try:
            t0 = time.perf_counter()
            res = self.run_fn(self.spark, self.state, run_dir, tr)
            wall = time.perf_counter() - t0
            bad = self.check_fn(self.state, res)
            self.written.append(dir_bytes(res["out"]) / self.state.inp.input_bytes)
        except Exception:  # a failed run is counted, reported and skipped
            bad = [traceback.format_exc(limit=3)]
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        if bad:
            self.failed += 1
            self.problems += [f"run {self.n}: {p}" for p in bad]
            return None
        return wall


# ------------------------------------------------------------ benchmark

def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def run_benchmark(workload, seed, seconds, trace, work, *, process_t0, heap,
                  warmup_seconds, min_runs, setup_repeats):
    """Returns (result JSON object, summary lines). The traced process
    needs 2 runs of each kind instead of min_runs untraced ones."""
    prepare = WORKLOADS[workload][0]
    t_launch = time.perf_counter()
    spark = _launch(work, heap, trace)
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        if trace:
            import databricks_flight_etl_spark as pkg

            tr = Tracer(spark.sparkContext)
            tr.install(pkg)
            log = EventLog(os.path.join(work, "eventlog"), spark.sparkContext.applicationId)
        launch_s = time.perf_counter() - t_launch
        # set-up = process start + session + inputs + warm-up. Generating
        # the inputs is repeated and its median taken; the warm-up runs
        # are what a fresh JVM pays once, so they run once: the cold run,
        # then runs until warmup_seconds have passed after it. The JIT
        # keeps speeding runs up for several runs after the cold one.
        preps = []
        for i in range(setup_repeats):
            t0 = time.perf_counter()
            state = prepare(spark, seed, os.path.join(work, f"setup{i}"))
            preps.append(time.perf_counter() - t0)
        runner = Runner(spark, workload, state, work)
        t0 = time.perf_counter()
        runner.once(NullTracer())
        t_cold = time.perf_counter()
        while True:
            runner.once(NullTracer())
            if time.perf_counter() - t_cold >= warmup_seconds or runner.failed:
                break
        warm_s = time.perf_counter() - t0
        setup_s = (t_launch - process_t0) + launch_s + statistics.median(preps) + warm_s
        warm_attempted, warm_failed, warm_problems = (
            runner.attempted, runner.failed, runner.problems)
        runner.attempted = runner.failed = 0
        runner.problems, runner.written = [], []

        load0, cpu0, t0 = _loadavg(), _proc_cpu_s(jvm_pid) + _proc_cpu_s("self"), time.perf_counter()
        steal0, total0 = _cpu_ticks()
        walls, traced = [], []
        deadline = t0 + seconds
        # the traced process alternates untraced and traced runs, so the
        # tracing overhead is the difference of two medians of one process
        need = 2 if trace else min_runs
        while len(walls) < need or len(traced) < (need if trace else 0) \
                or time.perf_counter() < deadline:
            if trace and len(traced) < len(walls):
                traced.append(_traced_once(spark, runner, tr, log))
            else:
                wall = runner.once(NullTracer())
                if wall is not None:
                    walls.append(wall)
            if runner.failed >= min_runs:
                break  # a broken program: report it rather than retry
        elapsed = time.perf_counter() - t0
        cpu_util = (_proc_cpu_s(jvm_pid) + _proc_cpu_s("self") - cpu0) / (elapsed * cores())
        steal1, total1 = _cpu_ticks()
        steal = (steal1 - steal0) / max(total1 - total0, 1)
        peak_rss = _hwm_mb(jvm_pid) + _hwm_mb("self")
        if trace:
            tr.uninstall()
    finally:
        _stop(spark)

    attempted = runner.attempted + warm_attempted
    failed = runner.failed + warm_failed
    problems = warm_problems + runner.problems
    q1, med, q3 = _quartiles(walls) if walls else (0.0, 0.0, 0.0)
    e2e = {"run_s": med, "setup_s": setup_s}
    lines = [
        f"workload={workload} seed={seed} cores={cores()} heap={heap} "
        f"trace={int(trace)} source_sha256={source_sha(os.getcwd())} "
        f"loadavg_1m={load0:.2f} proc.cpu_util={cpu_util:.3f} host.steal={steal:.3f}",
        f"run_s {med:.4f} s (q1 {q1:.4f}, q3 {q3:.4f}, n={len(walls)} untraced runs: "
        + ", ".join(f"{x:.3f}" for x in walls) + ")",
        f"setup_s {setup_s:.4f} s (launch {launch_s:.3f}, inputs median of "
        + ", ".join(f"{s:.3f}" for s in preps)
        + f", {warm_attempted} warm-up runs {warm_s:.3f})",
        f"failed_frac {failed / max(attempted, 1):.4f} ({failed} of {attempted} runs)",
        f"peak_rss_mb {peak_rss:.1f} MB (driver + JVM)",
    ]
    if runner.written:
        lines.append(f"written_bytes_per_input_byte {statistics.median(runner.written):.4f} ratio")
    lines += [f"problem: {p}" for p in problems[:10]]
    if trace:
        layer = _layer_metrics(traced, walls, load0, runner.written, peak_rss)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
        lines += [f"{k} {v:.6g} {unit_of(k)}" for k, v in layer.items()]
    else:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in e2e.items()}
    result = {"correct": failed == 0 and bool(walls), "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, lines


# ---------------------------------------------------------------- tracing

FOLD = {
    **{fn: fn for fn in FUNCTIONS},
    "build": "pipeline", "action": "action", "action.collect": "action",
    "pipeline.run_flight_pipeline": "pipeline",
    "pipeline.run_textprep_pipeline": "pipeline",
    "pipeline.run_corpus_release": "pipeline",
}


def _subtree(spans, root_name: str) -> set[int]:
    inside: set[int] = set()
    for i, s in enumerate(spans):
        if (s.parent is None and s.name == root_name) or s.parent in inside:
            inside.add(i)
    return inside


def _traced_once(spark, runner: Runner, tr: Tracer, log: EventLog) -> dict | None:
    _wait_for_listeners(spark)
    log.read_new()  # events of earlier runs
    with tr.run():
        wall = runner.once(tr)
    if wall is None:
        return None
    live = _live_rdds(spark)
    _wait_for_listeners(spark)
    ev = summarize(log.read_new())
    spans = tr.spans
    selfs = self_times(spans, FOLD)
    jobs: dict[str, int] = {}
    for idx, n in ev.jobs_by_span.items():
        name = report_name(spans, spans[idx], FOLD)
        jobs[name] = jobs.get(name, 0) + n
    build, action = _subtree(spans, "build"), _subtree(spans, "action")
    dur = {s.name: s.end - s.start for s in spans if s.parent is None}
    cat = tr.catalyst_ms()
    m = {
        "wall": wall,
        "pipeline.build_s": dur.get("build", 0.0),
        "pipeline.build_jobs": sum(n for i, n in ev.jobs_by_span.items() if i in build),
        "pipeline.action_s": dur.get("action", 0.0),
        "pipeline.action_jobs": sum(n for i, n in ev.jobs_by_span.items() if i in action),
        "pipeline.self_s": selfs.get("pipeline", 0.0),
        "action.self_s": selfs.get("action", 0.0),
    }
    for fn in FUNCTIONS:
        m[f"{fn}.s"] = selfs.get(fn, 0.0)
        m[f"{fn}.jobs"] = jobs.get(fn, 0)
    calls = {k: v[0] for k, v in tr.py4j.items()}
    secs = {k: v[1] for k, v in tr.py4j.items()}
    m.update({
        "py4j.calls": sum(calls.values()), "py4j.s": sum(secs.values()),
        "py4j.build_calls": calls.get("build", 0), "py4j.build_s": secs.get("build", 0.0),
        "catalyst.analysis_ms": cat["analysis"],
        "catalyst.optimization_ms": cat["optimization"],
        "catalyst.planning_ms": cat["planning"],
        "spark.jobs": ev.jobs, "spark.stages": ev.stages, "spark.tasks": ev.tasks,
        "exec.run_ms": ev.run_ms, "exec.cpu_ms": ev.cpu_ms, "exec.gc_ms": ev.gc_ms,
        "exec.cpu_util": ev.cpu_ms / (wall * 1000 * cores()),
        "shuffle.write_bytes": ev.shuffle_write_bytes,
        "shuffle.read_bytes": ev.shuffle_read_bytes,
        "spill.disk_bytes": ev.spill_disk_bytes,
        "scan.rows_read_per_input_row": ev.input_records / runner.state.inp.rows,
        "cache.live_rdds_after_run": live,
        "cache.peak_mem_bytes": ev.peak_cache_mem_bytes,
        "trace.reconcile_ratio": sum(selfs.values()) / wall,
    })
    if not 0.9 <= m["trace.reconcile_ratio"] <= 1.1:
        runner.failed += 1
        runner.problems.append(
            f"run {runner.n}: layer self times sum to {m['trace.reconcile_ratio']:.3f} "
            "of the traced wall time (allowed 0.9 to 1.1)")
    return m


def _layer_metrics(traced, walls, load0, written, peak_rss) -> dict[str, float]:
    ok = [t for t in traced if t is not None]
    out: dict[str, float] = {}
    for name in LAYER_MAP:
        vals = [t[name] for t in ok if name in t]
        if vals:  # a count reports a count that was measured
            pick = statistics.median_low if unit_of(name) == "count" else statistics.median
            out[name] = pick(vals)
    tw = statistics.median([t["wall"] for t in ok]) if ok else 0.0
    out["trace.overhead_s"] = tw - (statistics.median(walls) if walls else 0.0)
    out["io.written_bytes_per_input_byte"] = statistics.median(written) if written else 0.0
    out["host.loadavg_1m"] = load0
    out["peak_rss_mb"] = peak_rss
    return {k: out.get(k, 0.0) for k in LAYER_MAP}
