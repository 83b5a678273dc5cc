"""Per-query job/stage profiler (guide §1: measure first).

Runs one or more registry queries through the same noop-sink action the
bench times, with the Spark event log enabled, then parses the log to
attribute wall time to jobs and stages: submission gaps (driver/planning
time), task-time sums, shuffle bytes, and Python (Arrow) eval presence.
This is the empirical half of the optimization loop — it answers "where
do this query's seconds actually go" without the UI.

Usage: python tools/profile_query.py <query> [query ...] [--reps N]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    # Parse both '--reps=N' and '--reps N' (r13 ADVICE: the split('=')
    # parse raised IndexError on the documented space form and treated
    # N as a query name).
    args = sys.argv[1:]
    names: list[str] = []
    reps = 1
    i = 0
    while i < len(args):
        a = args[i]
        if a.startswith("--reps"):
            if "=" in a:
                reps = int(a.split("=", 1)[1])
            else:
                i += 1
                if i >= len(args):
                    raise SystemExit("--reps needs a value")
                reps = int(args[i])
        elif a.startswith("--"):
            raise SystemExit(f"unknown option {a!r}")
        else:
            names.append(a)
        i += 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = tempfile.mkdtemp(prefix="spark_evlog_")

    # Event-log settings must reach the JVM before it starts: pass them
    # as spark-submit arguments, then build the session through get_spark
    # so every engine default applies unchanged.
    evlog = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{evdir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in evlog.items()]
        + [os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")]
    )
    import __spark_entry__ as entrymod
    from genai_batch_processor_spark.session import get_spark

    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(
            f"unknown queries {unknown}; registry has {len(qs)} names "
            "(see QUERIES.md)"
        )
    spark = get_spark("profile")
    # warm exactly like bench.py
    qs[list(qs)[0] if "joinback" not in qs else "joinback"](spark, sf_dir).count()

    marks = []  # (name, rep, t0, t1) in epoch ms
    for name in names:
        for rep in range(reps):
            sc = spark.sparkContext
            sc.setJobGroup(f"prof:{name}:{rep}", name)
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            t1 = time.time()
            sc.setJobGroup("", "")
            marks.append((name, rep, t0 * 1000, t1 * 1000))
            print(f"== {name} rep{rep}: {t1 - t0:.3f}s wall")

    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(1.0)

    # Parse the event log. Only the entry matching THIS app id counts
    # (r13 ADVICE: the permissive fallback silently profiled the wrong
    # log whenever the dir held more than one entry).
    matches = [f for f in os.listdir(evdir) if f.startswith(app_id)]
    if not matches:
        raise SystemExit(f"no event log found in {evdir} (app {app_id})")
    path = os.path.join(evdir, matches[0])
    if os.path.isdir(path):  # Spark 4 rolling event-log directory
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events")
        )
    else:
        parts = [path]
    jobs = {}   # job_id -> dict
    stages = {}  # stage_id -> dict

    def _lines():
        for p in parts:
            with open(p) as f:  # context-managed per file (r13 ADVICE)
                yield from f

    if True:
        for line in _lines():
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id", ""),
                    "desc": (props.get("spark.job.description") or "")[:60],
                    "t0": ev.get("Submission Time"),
                    "stages": [
                        s["Stage ID"] for s in ev.get("Stage Infos", [])
                    ],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev.get("Completion Time")
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                acc = {
                    a.get("Name"): a.get("Value")
                    for a in si.get("Accumulables", [])
                }
                def num(key):
                    v = acc.get(key)
                    try:
                        return int(v)
                    except (TypeError, ValueError):
                        return 0
                stages[sid] = {
                    "name": si.get("Stage Name", "")[:70],
                    "tasks": si.get("Number of Tasks"),
                    "t0": si.get("Submission Time"),
                    "t1": si.get("Completion Time"),
                    "run_ms": num("internal.metrics.executorRunTime"),
                    "cpu_ms": num("internal.metrics.executorCpuTime") // 1_000_000,
                    "sh_read": num("internal.metrics.shuffle.read.remoteBytesRead")
                    + num("internal.metrics.shuffle.read.localBytesRead"),
                    "sh_write": num("internal.metrics.shuffle.write.bytesWritten"),
                    "input": num("internal.metrics.input.bytesRead"),
                }

    for name, rep, t0, t1 in marks:
        wall = (t1 - t0) / 1000
        myjobs = [
            (jid, j)
            for jid, j in sorted(jobs.items())
            if j.get("t0") and t0 <= j["t0"] <= t1
        ]
        covered = sum(
            (j.get("t1", j["t0"]) - j["t0"]) / 1000 for _, j in myjobs
        )
        print(f"\n### {name} rep{rep}: wall {wall:.3f}s, "
              f"{len(myjobs)} jobs covering {covered:.3f}s "
              f"(gaps/driver: {wall - covered:.3f}s)")
        prev_end = t0
        for jid, j in myjobs:
            gap = (j["t0"] - prev_end) / 1000
            dur = (j.get("t1", j["t0"]) - j["t0"]) / 1000
            prev_end = j.get("t1", j["t0"])
            sinfo = []
            for sid in sorted(j.get("stages", [])):
                s = stages.get(sid)
                if not s or not s.get("t0"):
                    continue
                sinfo.append(
                    f"s{sid}[{s['tasks']}t {s['run_ms']}ms run"
                    + (f" {s['sh_write']}B shw" if s["sh_write"] else "")
                    + (f" {s['input']}B in" if s["input"] else "")
                    + "]"
                )
            print(
                f"  job{jid:4d} gap={gap:6.3f}s dur={dur:6.3f}s "
                f"{j['desc'] or ''} {' '.join(sinfo)}"
            )

    import shutil

    shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
