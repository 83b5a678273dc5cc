"""Product-path benchmark: one closed-loop client drives the public API
the examples use (``ids.assign_ids`` -> ``*BatchPipeline.run()`` ->
answers written / errors counted, and the near-dup admission drain)
on ``local[<cpus - 1>]`` in this process, with inputs generated from
``--seed``.

    python3 perfbench/run.py --workload dedupe_vertex --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every kept workload

A run sets the engine up in this process, runs one cold iteration and
``WARMUP`` unmeasured warm-up ones, then a fixed number of measured
iterations:
``--seconds`` over the workload's nominal iteration time, rounded down,
at least ``MIN_MEASURED``. The makespan keeps falling over the first
few warm iterations, so a stop on elapsed time would let a faster run
(or commit) time warmer iterations than a slower one; a fixed count
times the same ones. Every iteration's output is checked after its
clock stops. ``--trace 0`` then stops the engine and sets it up once
more in a fresh probe process, and reports the end-to-end metrics.
Both set-up samples time the same interval: from the first statement
of this script (before any pyspark or package import) through the
package and benchmark imports and ``get_spark`` to a first trivial job
done. ``--trace 1`` alternates untraced and traced iterations, starting
and ending on an untraced one, and reports the per-layer metrics, the
tracing overhead and a one-core (``local[1]``) baseline, run after the
measured iterations on a fresh SparkContext in the same (warm) JVM.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (iterations), ``metrics``. A readable summary, including the
environment and sample counts, precedes it; the full report is written
under ``.perfbench/reports/``. Exit status: 0 when every check passed,
1 when a check failed, 2 when the engine package is absent."""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # set-up samples are timed from here

import argparse
import json
import math
import os
import platform
import shlex
import shutil
import signal
import subprocess
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "genai_batch_processor_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
# Local mode hosts every executor in the driver JVM; 4g fits a 15 GB
# host next to its neighbours (get_spark's default, 31g, does not).
DRIVER_HEAP = "4g"
# Checked but unmeasured iterations after the cold one: the makespan
# falls most over the first warm iteration (JIT, Python workers), and
# timing it would make the median depend on how fast a run warms up.
WARMUP = 1
MIN_MEASURED = 2
MIN_MEASURED_TRACED = 3  # untraced, traced, untraced
DEADLINE_S = 165  # a run must end within 180 s, measured from _T0


def _task_threads(cpus: int) -> int:
    """Spark task threads: one core fewer than the host has. The driver
    side (planning, job scheduling, the foreachBatch callback, JIT and
    GC) is on every iteration's critical path; with a task thread per
    core it waited behind the tasks, and on a shared host the run's
    makespans spread more (local[3] vs local[4] on 4 cores: lower and
    steadier in 5 of 6 alternating ingest pairs). The workloads do not
    scale with task threads anyway (``scale.cores1_makespan_s``)."""
    return max(1, cpus - 1)


def _configure_env(cpus: int) -> None:
    """Everything the engine writes goes under the checkout; set before
    the JVM starts. ``cpus`` is the number of Spark task threads."""
    tmp = os.path.join(WORK_ROOT, "tmp")
    local = os.path.join(WORK_ROOT, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=(
            "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            + " pyspark-shell"
        ),
    )
    sys.path.insert(0, ROOT)


def _start_engine():
    """The package and the benchmark's modules imported, SparkSession
    up and one trivial job done."""
    from genai_batch_processor_spark.session import get_spark
    from perfbench import workloads  # noqa: F401 — import cost is set-up

    spark = get_spark("perfbench")
    spark.range(1).count()
    return spark


def _stop_engine(spark=None) -> None:
    """Stop Spark (``spark``, or whatever context a set-up cut short
    left) and wait for the driver JVM (and the Python workers it owns)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _child(args: list[str], timeout: float) -> dict:
    """Run this script in a fresh process; its last stdout line is JSON."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        stdout=subprocess.PIPE, text=True, timeout=timeout, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _reset_peak_rss(pid: int) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")  # resets VmHWM to the current RSS
    except OSError:
        pass  # not permitted here: the peak then spans the process life


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_ticks() -> list[int]:
    """This machine's cpu counters from /proc/stat (user ... steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_frac(before: list[int], after: list[int]) -> float:
    """Share of cpu time the hypervisor gave to other guests meanwhile:
    a noisy neighbour shows here, not in this run's own numbers."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


class _Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise _Deadline(f"run exceeded {DEADLINE_S} s")


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 cpus: int) -> dict:
    """One run; an exception or the deadline is recorded as a failed
    iteration, and the engine is stopped either way."""
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    env = {"cpus": cpus, "task_threads": _task_threads(cpus),
           "driver_heap": DRIVER_HEAP,
           "python": platform.python_version(), "seed": seed,
           "load_before": os.getloadavg()}
    ticks_before = _cpu_ticks()
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    setups: list[float] = []
    iters: list[dict] = []
    baseline: list[dict] = []
    spark = tracer = listener = None
    it = 0
    try:
        spark = _start_engine()
        setups.append(time.perf_counter() - _T0)
        from perfbench import trace as tr_mod
        from perfbench import workloads

        env["spark"] = spark.version
        env["java"] = spark._jvm.java.lang.System.getProperty("java.version")
        os.makedirs(work, exist_ok=True)
        tracer = tr_mod.Tracer(spark.sparkContext)
        if trace:
            listener = tr_mod.ProgressListener()
            spark.streams.addListener(listener)
        pid = _jvm_pid(spark)
        wl = workloads.make(name, spark, work, seed, tracer)

        measured = max(
            MIN_MEASURED_TRACED if trace else MIN_MEASURED,
            math.floor(seconds / workloads.WORKLOADS[name]["nominal_s"]),
        )
        if trace:
            measured |= 1  # untraced on both sides of every traced one
        # iteration 0 is the cold one, then WARMUP unmeasured ones
        for it in range(1 + WARMUP + measured):
            rec = _iterate(wl, it, tracer, listener, pid,
                           traced=trace and it > WARMUP
                           and (it - WARMUP) % 2 == 0)
            iters.append(rec)
            if "makespan" not in rec:
                break
        if trace:
            # One-core baseline in the same (already warm) JVM: a fresh
            # SparkContext on local[1], one settling iteration, then one
            # timed one.
            spark.stop()
            os.environ["SPARK_GRAFT_CPUS"] = "1"
            spark = _start_engine()
            wl.spark = spark
            for _ in range(2):
                it += 1
                baseline.append(_iterate(wl, it, tracer, None, pid, False))
                if "makespan" not in baseline[-1]:
                    break
    except Exception:  # noqa: BLE001 — includes _Deadline
        iters.append({"it": it, "problems": [traceback.format_exc(limit=3)]})
    finally:
        signal.alarm(0)
        _stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)
    if not trace and all("makespan" in r for r in iters):
        # the second set-up sample, in a fresh process once this
        # process's JVM has exited
        left = DEADLINE_S - (time.perf_counter() - _T0)
        try:
            setups.append(_child(["--setup-probe"], timeout=max(left, 1))
                          ["setup_s"])
        except (subprocess.SubprocessError, ValueError) as e:
            iters.append({"it": "setup-probe", "problems": [repr(e)]})
    env["load_after"] = os.getloadavg()
    env["steal_frac"] = round(_steal_frac(ticks_before, _cpu_ticks()), 4)
    return {
        "workload": name,
        "environment": env,
        "setup_samples": setups,
        "iterations": iters,
        "baseline": baseline,
        "progress": listener.progress if listener else [],
        "spans": tracer.spans if tracer else [],
        "problems": [
            f"iteration {r['it']}: {p}"
            for r in iters + baseline for p in r.get("problems", [])
        ],
    }


def _iterate(wl, it: int, tracer, listener, pid: int, traced: bool) -> dict:
    """One checked iteration; a failure is recorded, not raised."""
    tracer.enabled = traced
    tracer.iteration = it
    n_runs = len(listener.run_ids) if listener else 0
    _reset_peak_rss(pid)
    rec = {"it": it, "traced": traced, "measured": it > WARMUP}
    try:
        rec.update(wl.iteration(it))
    except _Deadline:
        raise
    except Exception:  # noqa: BLE001 — a failed iteration is reported
        rec["problems"] = [traceback.format_exc(limit=3)]
    tracer.enabled = False
    rec["peak_rss_mb"] = _peak_rss_mb(pid)
    if listener is not None:
        listener.wait_terminated(len(listener.run_ids))
        rec["stream_runs"] = listener.run_ids[n_runs:]
    if traced:
        rec["spark"] = _span_counters(wl.spark, tracer, it, rec)
    return rec


def _span_counters(spark, tracer, it: int, rec: dict) -> dict:
    """Spark counters per span of iteration ``it`` (outside its clock);
    the k-th drain span owns the k-th streaming query started in it."""
    from perfbench import trace as tr_mod

    spans = [s for s in tracer.spans if s["iteration"] == it]
    drains = [s for s in spans if s["name"] == "ingest.drain"]
    for span, run_id in zip(drains, rec.get("stream_runs", [])):
        span["groups"].append(run_id)
    return {
        s["id"]: tr_mod.group_counters(spark, s["groups"]) for s in spans
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found under "
              f"{ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    _configure_env(_task_threads(cpus))

    if args.setup_probe:
        spark = _start_engine()
        t = time.perf_counter() - _T0
        _stop_engine(spark)
        print(json.dumps({"setup_s": t}))
        return 0

    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"] if args.seconds is None else args.seconds
    if args.workload == "all":
        return _run_all(bench, args, seconds)

    from perfbench import report, workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"known: {sorted(workloads.WORKLOADS)}")
    raw = run_workload(args.workload, args.seed, seconds, bool(args.trace),
                       cpus)
    result = report.summarize(raw, bench, bool(args.trace))
    report.write(raw, result, WORK_ROOT, args.workload, args.trace)
    report.print_summary(raw, result)
    print(json.dumps(result["json"]))
    return 0 if result["json"]["correct"] else 1


def _run_all(bench: dict, args, seconds: float) -> int:
    """Every kept workload, each in its own process: their summaries,
    then one JSON object keyed by workload."""
    status = 0
    rows = []
    for w in bench["workloads"]:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload",
             w["name"], "--seed", str(args.seed), "--seconds", str(seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        status = status or proc.returncode
        if not lines:
            continue
        rows.append((w["name"], json.loads(lines[-1])))
    print(json.dumps({name: res for name, res in rows}))
    return status


if __name__ == "__main__":
    sys.exit(main())
