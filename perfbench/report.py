"""Turns a run's raw record (iterations, spans, Spark counters,
streaming progress) into the metrics named in BENCHMARK.json."""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from perfbench.trace import SPARK_COUNTERS, descendants, self_times

END_TO_END = {"setup_s": "s", "makespan_s": "s", "client_s": "s"}
# single-sample or GC-driven figures that do not repeat within a tenth
# from run to run: reported with the per-layer metrics
RUN_SHAPE = {"cold_s": "s", "peak_rss_mb": "MB"}

# spans opened around the calls into each layer (inclusive wall time)
SPAN_TIMES = (
    "ids.assign", "pipeline.validate", "pipeline.run", "jsonl.sink",
    "provider.submit", "orchestrator.run_job", "results.collect",
    "results.errors", "dedup.index_build", "index_store.load",
    "ingest.drain", "compaction.compact", "compaction.read",
)
# spans whose Spark work is counted (inclusive of child spans)
SPARK_SPANS = tuple(
    s for s in SPAN_TIMES if s not in ("pipeline.run", "orchestrator.run_job")
)
# spans with children: their self time is reported on its own
SELF_SPANS = ("pipeline.run", "orchestrator.run_job", "provider.submit")
COUNTS = {
    "jsonl.sink_bytes": "bytes", "jsonl.sink_files": "count",
    "provider.requests": "count", "orchestrator.status_calls": "count",
    "results.rows": "count", "results.error_rows": "count",
    "index_store.index_bytes": "bytes", "ingest.pairs": "count",
    "compaction.files_before": "count", "compaction.files_after": "count",
}
STREAM = {
    "epoch_p50_s": "s", "ingest.epoch_samples": "count",
    "ingest.epochs": "count", "ingest.add_batch_ms": "ms",
    "ingest.planning_ms": "ms", "ingest.list_ms": "ms",
    "ingest.commit_ms": "ms",
}
RUN = {
    "billed_frac": "ratio", "failed_frac": "ratio",
    "trace.makespan_s": "s", "trace.untraced_makespan_s": "s",
    "trace.overhead_s": "s", "trace.unattributed_s": "s",
    "scale.cores1_makespan_s": "s",
}
_COUNTER_UNITS = {
    "spark_jobs": "count", "spark_stages": "count", "spark_tasks": "count",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "executor_run_s": "s", "gc_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = dict(RUN_SHAPE)
    units.update({f"{s}_s": "s" for s in SPAN_TIMES})
    units["pipeline.spark_jobs"] = "count"
    for s in SPARK_SPANS:
        for c in SPARK_COUNTERS:
            units[f"{s}.{c}"] = _COUNTER_UNITS[c]
    units.update({f"{s}.self_s": "s" for s in SELF_SPANS})
    units.update(COUNTS)
    units.update(STREAM)
    units.update(RUN)
    return units


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _layer_spans(spans: list[dict], name: str) -> list[dict]:
    """Spans of ``name``; the pipeline's sink only, not the mock
    provider's own ``write_jsonl`` (a child of ``provider.submit``)."""
    by_id = {s["id"]: s for s in spans}

    def under_provider(s):
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == "provider.submit":
                return True
            p = by_id[p]["parent"]
        return False

    out = [s for s in spans if s["name"] == name]
    if name == "jsonl.sink":
        out = [s for s in out if not under_provider(s)]
    return out


def _traced_layer_metrics(raw: dict) -> dict[str, float]:
    traced = [r for r in raw["iterations"] if r.get("traced") and "makespan" in r]
    per_iter = defaultdict(list)
    for rec in traced:
        spans = [s for s in raw["spans"] if s["iteration"] == rec["it"]]
        selfs = self_times(spans)
        counters = rec.get("spark", {})
        for name in SPAN_TIMES:
            per_iter[f"{name}_s"].append(
                sum(s["end"] - s["start"] for s in _layer_spans(spans, name))
            )
        for name in SPARK_SPANS + ("pipeline.run",):
            tot = dict.fromkeys(SPARK_COUNTERS, 0.0)
            for s in _layer_spans(spans, name):
                for d in [s] + descendants(spans, s["id"]):
                    for c, v in counters.get(d["id"], {}).items():
                        tot[c] += v
            if name == "pipeline.run":
                per_iter["pipeline.spark_jobs"].append(tot["spark_jobs"])
            else:
                for c in SPARK_COUNTERS:
                    per_iter[f"{name}.{c}"].append(tot[c])
        for name in SELF_SPANS:
            per_iter[f"{name}.self_s"].append(
                sum(selfs[s["id"]] for s in _layer_spans(spans, name))
            )
        per_iter["trace.unattributed_s"] += [
            selfs[s["id"]] for s in spans if s["name"] == "iteration"
        ]
        for k, v in rec["counts"].items():
            per_iter[k].append(v)
    return {k: _median(v) for k, v in per_iter.items()}


def _stream_metrics(raw: dict) -> dict[str, float]:
    measured = [r for r in raw["iterations"] if r.get("measured") and "makespan" in r]
    runs = {run: r["it"] for r in measured for run in r.get("stream_runs", [])}
    epochs = [p for p in raw["progress"] if p["run_id"] in runs and p["rows"] > 0]
    per_iter = defaultdict(int)
    for p in epochs:
        per_iter[runs[p["run_id"]]] += 1

    def ms(*keys):
        return _median(sum(p["duration_ms"].get(k, 0) for k in keys) for p in epochs)

    return {
        "epoch_p50_s": ms("triggerExecution") / 1000.0,
        "ingest.epoch_samples": len(epochs),
        "ingest.epochs": _median(per_iter.values()),
        "ingest.add_batch_ms": ms("addBatch"),
        "ingest.planning_ms": ms("queryPlanning"),
        "ingest.list_ms": ms("latestOffset"),
        "ingest.commit_ms": ms("walCommit", "commitOffsets"),
    }


def _paired_overheads(measured: list[dict]) -> list[float]:
    """Each traced makespan minus the mean of the untraced iterations on
    either side: the warm makespan still falls over the first
    iterations, and pairing with both neighbours cancels that trend."""
    makespan = {r["it"]: r["makespan"] for r in measured}
    return [
        makespan[r["it"]] - (makespan[r["it"] - 1] + makespan[r["it"] + 1]) / 2
        for r in measured
        if r["traced"] and r["it"] - 1 in makespan and r["it"] + 1 in makespan
    ]


def summarize(raw: dict, bench: dict, trace: bool) -> dict:
    iters = raw["iterations"] + raw["baseline"]
    done = [r for r in raw["iterations"] if "makespan" in r]
    measured = [r for r in done if r["measured"]]
    untraced = [r for r in measured if not r["traced"]]
    failed = sum(1 for r in iters if r.get("problems"))
    values: dict[str, float] = {}
    samples: dict[str, int] = {}

    values["setup_s"] = _median(raw["setup_samples"])
    samples["setup_s"] = len(raw["setup_samples"])
    values["cold_s"] = done[0]["makespan"] if done else 0.0
    samples["cold_s"] = 1 if done else 0
    for key, fn in (
        ("makespan_s", lambda r: r["makespan"]),
        ("client_s", lambda r: r["makespan"] - r["provider_s"]),
        ("peak_rss_mb", lambda r: r["peak_rss_mb"]),
    ):
        values[key] = _median(fn(r) for r in untraced)
        samples[key] = len(untraced)

    if trace:
        layer = _traced_layer_metrics(raw)
        layer.update(_stream_metrics(raw))
        traced = [r["makespan"] for r in measured if r["traced"]]
        layer["trace.makespan_s"] = _median(traced)
        layer["trace.untraced_makespan_s"] = values["makespan_s"]
        layer["trace.overhead_s"] = _median(_paired_overheads(measured))
        layer["scale.cores1_makespan_s"] = (
            raw["baseline"][-1].get("makespan", 0.0) if raw["baseline"] else 0.0
        )
        layer["failed_frac"] = failed / max(len(iters), 1)
        values.update(layer)
        samples["traced"] = len(traced)
        wanted = [m["name"] for m in bench["per_layer"]]
    else:
        wanted = [m["name"] for m in bench["end_to_end"]]
    units = {**END_TO_END, **per_layer_units()}
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": units[name]}
        for name in wanted
    }
    return {
        "json": {
            "correct": failed == 0 and bool(measured),
            "attempted": max(len(iters), 1),
            "failed": failed if measured else max(failed, 1),
            "metrics": metrics,
        },
        "samples": samples,
    }


def write(raw: dict, result: dict, root: str, workload: str, trace: int) -> str:
    out = os.path.join(root, "reports")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(
        out, f"{workload}-seed{raw['environment']['seed']}-trace{trace}.json"
    )
    with open(path, "w") as f:
        json.dump({"raw": raw, "result": result}, f, indent=1, default=str)
    return path


def print_summary(raw: dict, result: dict) -> None:
    env = raw["environment"]
    print(f"workload {raw['workload']}  " + "  ".join(
        f"{k}={v}" for k, v in env.items()))
    print(f"setup samples (s): {[round(x, 3) for x in raw['setup_samples']]}")
    for r in raw["iterations"]:
        if "makespan" in r:
            kind = ("cold" if r["it"] == 0
                    else "warm-up" if not r["measured"]
                    else "traced" if r["traced"] else "measured")
            print(f"  iteration {r['it']:>2} {kind:<8} "
                  f"{r['makespan']:8.3f} s  provider {r['provider_s']:.3f} s"
                  f"  rss {r['peak_rss_mb']:.0f} MB")
    samples = result["samples"]
    for name, m in result["json"]["metrics"].items():
        n = samples.get(name, samples.get("traced", ""))
        print(f"{name:<40} {m['value']:>14.4f} {m['unit']:<6} n={n}")
    for p in raw["problems"]:
        print(f"CHECK FAILED: {p}")
