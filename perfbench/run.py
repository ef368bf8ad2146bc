#!/usr/bin/env python3
"""Benchmark for spark-newsprint: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload job_resume|queries \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The run generates its inputs from the
seed under ``.bench_work/``, sets up three times (a local Spark
session with one core per CPU, ``nproc``, and the input materialised)
and reports the median, then runs the workload's unit in a closed
loop: the cold unit, the workload's untimed ``warmup`` units, then
timed units for ``--seconds`` and at least the workload's
``min_warm`` of them. It checks every output outside the timed
section and prints as its last line
``{"correct", "attempted", "failed", "metrics"}``. See
``perfbench/README.md``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: driver spans around the calls into the
program, worker spans from ``perfbench.tracedaemon``, and Spark's own
job, stage, task and Python UDF metrics. In a traced run the warm
units alternate between traced and untraced, which gives the tracing
overhead from the same session.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
MIN_TRACED_ITERS = 2  # traced run: at least two traced and two untraced
DRIVER_MEM = "2g"
# seconds between two memory samples; a sample reads /proc for every
# process, which at 0.2 s took a few percent of a core from the run
SAMPLE_INTERVAL = 0.5
# a run that hangs is stopped when its timed seconds plus this many
# have passed: its JVM is killed, its work directory removed, and it
# exits without a result
DEADLINE_SLACK_S = 160
CLEANUP_S = 10  # how long to wait for the JVM and Python workers to end


def program_present() -> bool:
    return os.path.isdir(os.path.join(ROOT, "newspaper_spark")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


class MemorySampler:
    """Peak memory of this process's descendants (the driver JVM and
    its Python daemon and workers), summed as PSS from /proc: forked
    workers share pages with the daemon, which RSS would count once
    per process."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _descendants() -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we listed it
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    @staticmethod
    def _pss_bytes(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass  # the process ended while we read it
        return 0

    def _run(self):
        while not self._stop.is_set():
            total = sum(self._pss_bytes(p) for p in self._descendants())
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(SAMPLE_INTERVAL)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def configure_env(work: str, trace_dir: str | None) -> None:
    """Environment for the JVM and the Python workers: the repository
    on the workers' path, memory below this host's RAM, and every
    scratch file inside the work directory."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # get_spark's default collector, plus no hsperfdata file in /tmp.
    # The JIT stops at its first tier (C1): with both tiers a fresh
    # driver JVM was still compiling 4-7 s of CPU per 3.5 s query sweep
    # at the eighth sweep, on 4 cores, so sweep times kept drifting and
    # followed the host's load. With C1 alone compilation falls below
    # 1 s a sweep by the third, and steady sweeps were within 15% of
    # the two-tier JVM's eighth.
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -XX:TieredStopAtLevel=1 -XX:-UsePerfData "
        f"-Djava.io.tmpdir={local} -Dderby.system.home={local}"
    )
    if trace_dir:
        os.environ["PERFBENCH_TRACE_DIR"] = trace_dir


def start_session(cores: int, trace: bool, work: str):
    from newspaper_spark.plans.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf["spark.python.daemon.module"] = "perfbench.tracedaemon"
    return get_spark(app_name="perfbench", cores=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, if a session started, and wait for the JVM (and
    with it the Python daemon), if one was launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def work_dir(workload: str) -> str:
    return os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    work = work_dir(workload)
    trace_dir = os.path.join(work, "trace") if trace else None
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(trace_dir or work)
    configure_env(work, trace_dir)

    tracer = tr.Tracer()  # on in traced units only
    wl = WORKLOADS[workload](seed, work, tracer)
    spark = None
    try:
        wl.generate()
        setup_s, session_s, materialize_s = [], [], []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(cores, trace, work)
            t1 = time.perf_counter()
            wl.setup(spark)
            t2 = time.perf_counter()
            setup_s.append(t2 - t0)
            session_s.append(t1 - t0)
            materialize_s.append(t2 - t1)

        log(f"set-up x{SETUP_REPS}: " + " ".join(f"{x:.2f}" for x in setup_s) + " s")
        sc = spark.sparkContext
        walls, traced, untraced = [], [], []
        flag = os.path.join(trace_dir, "on") if trace else None
        steal0, total0 = cpu_ticks()
        # the cold unit and the workload's warm-up units run before the
        # clock for --seconds starts and are left out of the warm medians
        first = 1 + wl.warmup
        with MemorySampler() as mem:
            i, t_end = 0, float("inf")
            min_iters = first + (2 * MIN_TRACED_ITERS if trace else wl.min_warm)
            while i < min_iters or time.perf_counter() < t_end:
                if i == first:
                    t_end = time.perf_counter() + seconds
                # warm units traced in blocks of four as on, off, off, on:
                # traced and untraced units then see the same crash
                # positions and, on average, the same point of JIT warm-up
                on = trace and i >= first and (i - first) % 4 in (0, 3)
                tracer.enabled = on
                if flag:
                    if on:
                        open(flag, "w").close()
                    elif os.path.exists(flag):
                        os.remove(flag)
                sc.setJobGroup(f"it{i}", f"{workload} iteration {i}")
                t0 = time.perf_counter()
                wl.iterate(spark, i)
                walls.append(time.perf_counter() - t0)
                if i >= first:
                    (traced if on else untraced).append(i)
                i += 1
        tracer.enabled = False
        if trace:
            if os.path.exists(flag):
                os.remove(flag)
            time.sleep(0.5)  # the last tasks write their spans as they end
            worker_spans = tr.read_worker_spans(trace_dir)
        steal1, total1 = cpu_ticks()
        steal = (steal1 - steal0) / max(total1 - total0, 1)
        log(f"timed: {len(walls)} units in {sum(walls):.2f} s: "
            + " ".join(f"{w:.2f}" for w in walls) + f"; cpu steal {steal:.1%}")
        t0 = time.perf_counter()
        wl.expect(spark)
        for k in range(len(walls)):
            wl.verify(spark, k)
        log(f"checks: {time.perf_counter() - t0:.2f} s")

        if not trace:
            wall = wl.unit_seconds(walls, untraced)
            metrics = {
                "setup_s": (median(setup_s), "s"),
                "wall_s": (wall, "s"),
                "rows_per_s": (wl.rows_per_iter / wall, "1/s"),
                "peak_pss_mb": (mem.peak_bytes / 2**20, "MB"),
            }
        else:
            metrics = layer_metrics(
                wl, spark, worker_spans, traced, untraced, walls, session_s, materialize_s,
            )
            metrics["host.steal_frac"] = (steal, "ratio")
        result = {
            "correct": wl.failed == 0 and not wl.problems,
            "attempted": max(wl.attempted, 1),
            "failed": wl.failed,
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
        for p in wl.problems:
            log(p)
        return result
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def layer_metrics(wl, spark, spans, traced, untraced, walls, session_s,
                  materialize_s) -> dict:
    from perfbench import trace as tr

    n = max(len(traced), 1)
    layers = tr.layer_self_seconds(spans)
    turns = [s for s in spans if s[3] == tr.ARTICLE]
    page_ms = sorted((s[5] - s[4]) / 1e6 for s in turns)
    kernel_s = sum(s[5] - s[4] for s in turns) / 1e9 / n
    python_s = sum(s[5] - s[4] for s in spans if s[3] == tr.PYTHON) / 1e9 / n
    units = layer_units()
    values = dict.fromkeys(units, 0.0)
    values.update(
        {
            "session.start_s": median(session_s),
            "sources.materialize_s": median(materialize_s),
            "cold_s": walls[0],
            "dom.parse_s": layers.get("dom.parse", 0.0) / n,
            "kernel.metadata_s": layers.get("kernel.metadata", 0.0) / n,
            "kernel.cleaner_s": layers.get("kernel.cleaner", 0.0) / n,
            "kernel.scorer_s": layers.get("kernel.scorer", 0.0) / n,
            "kernel.formatter_s": layers.get("kernel.formatter", 0.0) / n,
            "kernel.article.self_s": layers.get(tr.ARTICLE, 0.0) / n,
            "kernel.page_p50_ms": percentile(page_ms, 0.50),
            "kernel.page_p99_ms": percentile(page_ms, 0.99),
            "kernel.page_max_ms": page_ms[-1] if page_ms else 0.0,
            "kernel.turns": len(turns) / n,
            "udf.assembly_s": layers.get(tr.BATCH, 0.0) / n,
        }
    )
    values.update(wl.layer_metrics(spark, traced))
    python_total = values["udf.python_total_s"]
    if python_total:
        values["udf.boundary_s"] = python_total - kernel_s

    # self-checks: one extract_article span per turn processed (none
    # where the workload extracts nothing), and the workers' own Python
    # time (the kernel spans plus the boundary around them) within 10%
    # of Spark's udf.python_total_s
    expect_turns = wl.rows_per_iter * n if wl.extracts else 0
    if len(turns) != expect_turns:
        wl.fail(f"trace: {len(turns)} extract_article spans for {expect_turns} turns")
    ratio = python_s / python_total if python_total else 0.0
    if wl.extracts and (not python_total or abs(ratio - 1) > 0.10):
        wl.fail(f"trace: worker spans {python_s:.3f}s vs python_total {python_total:.3f}s")
    values["trace.layer_sum_ratio"] = ratio
    values["trace.wall_s"] = wl.unit_seconds(walls, traced)
    values["trace.overhead_s"] = values["trace.wall_s"] - wl.unit_seconds(walls, untraced)
    values["fail_frac"] = wl.failed / max(wl.attempted, 1)
    return {k: (values[k], units[k]) for k in units}


def percentile(sorted_xs, q: float) -> float:
    if not sorted_xs:
        return 0.0
    return sorted_xs[min(len(sorted_xs) - 1, int(q * len(sorted_xs)))]


def layer_units() -> dict:
    """Every per-layer metric and its unit; every traced run prints
    all of them (0 where a workload does not load the layer)."""
    from perfbench.workloads import QUERIES

    units = {
        "session.start_s": "s", "sources.materialize_s": "s", "cold_s": "s",
        "dom.parse_s": "s", "kernel.metadata_s": "s", "kernel.cleaner_s": "s",
        "kernel.scorer_s": "s", "kernel.formatter_s": "s",
        "kernel.article.self_s": "s", "kernel.page_p50_ms": "ms",
        "kernel.page_p99_ms": "ms", "kernel.page_max_ms": "ms",
        "kernel.turns": "count",
        "udf.bytes_to_python": "B", "udf.bytes_from_python": "B",
        "udf.python_total_s": "s", "udf.python_boot_s": "s",
        "udf.boundary_s": "s", "udf.assembly_s": "s", "udf.task_skew": "ratio",
        "job.spark_jobs": "count", "job.stages": "count",
        "job.shuffle_bytes": "B", "job.output_bytes": "B",
        "job.commit_groups": "count", "job.audit_s": "s", "job.resume_s": "s",
        "queries.plan_build_s": "s", "queries.catalyst_s": "s",
        "queries.spark_jobs": "count", "queries.stages": "count",
        "queries.tasks": "count", "queries.shuffle_bytes": "B",
        "queries.executor_cpu_s": "s",
    }
    for q in QUERIES:
        units[f"queries.{q}.warm_s"] = "s"
        units[f"queries.{q}.spark_jobs"] = "count"
    units.update(
        {
            "trace.layer_sum_ratio": "ratio", "trace.wall_s": "s",
            "trace.overhead_s": "s", "host.steal_frac": "ratio", "fail_frac": "ratio",
        }
    )
    return units


def on_deadline(workload: str) -> None:
    """Stop a run that hangs. An exception would not do: the program
    and the workloads may catch it, and cleanup may hang on the JVM."""
    from pyspark import SparkContext

    log("deadline passed, stopping without a result")
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()  # the Python daemon and workers end with their JVM
        proc.wait(timeout=CLEANUP_S)
    t_end = time.monotonic() + CLEANUP_S
    while MemorySampler._descendants() and time.monotonic() < t_end:
        time.sleep(0.2)
    shutil.rmtree(work_dir(workload), ignore_errors=True)
    os._exit(3)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not program_present():
        print(f"perfbench: newspaper_spark not found under {ROOT}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, lambda *_: on_deadline(args.workload))
    signal.alarm(int(args.seconds) + DEADLINE_SLACK_S)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
