"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is forced through a full action (count on a write-free path)
so the measured time covers scan → transform → shuffle → action. The
session is warmed once; per-query time excludes JVM startup.

Round 6 (round-5 verdict item 7): the sweep runs SPARK_GRAFT_BENCH_REPS
times (default 3, rep-major so a load spike hits one rep, not one
query) and the JSON carries per-query MEDIANS plus the 1/5/15-minute
load averages at start and end — the machine drifted ~20% between
rounds 4 and 5 and the comparison needed a hand-run A/B
(BENCH_NOTES.md); medians-with-recorded-load make that correction part
of the artifact. The r1-comparable headline `value` stays the REP-1
(cold-cache) sum — the shared-stage session caches make later reps
cheaper, and the 93.97 s r1 baseline was a single cold run, so only
rep 1 compares like-for-like.

Round 7 (round-6 verdict item 7): `value_min`/`full_total_min` and
per-query mins join the medians — min-of-reps is a load-robust LOWER
bound (load inflates samples, never deflates them), closing the gap
between driver-under-load and builder-idle readings.

Round 8 (round-7 verdict items 2+3): a fixed CALIBRATION workload —
constant-size generated shuffle+agg, zero fixture reads — runs once
per rep; every per-query time is reported both raw and
calibration-normalized (raw × calib_ref/calib_rep, i.e. rescaled to
what an idle reference box would have read). Three rounds of bench
readings swung with box load; the normalized column is the
round-over-round comparison now. `BASELINE_QUERIES.json` freezes
per-query normalized mins from an idle run; any query whose normalized
min exceeds 2× its frozen baseline is flagged in `slow_vs_baseline`.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from genai_batch_processor_spark.session import get_spark

HEADLINE = [
    "joinback",
    "label_distribution",
    "build_requests",
    "mock_responses",
]

# The exact query set BENCH_r01 measured (93.965 s total at sf0.1).
# The headline `value` sums ONLY these, so round-over-round totals
# compare the same work even as the sweep grows; `full_total` covers
# every registered query.
R1_BASELINE_SET = frozenset(
    {
        "joinback", "label_distribution", "build_requests",
        "mock_responses", "above_avg_balance", "assign_ids",
        "azure_model_rewrite", "customer_order_setops",
        "customers_without_orders", "dedup_components",
        "dedup_survivors", "doc_attr_map", "doc_stats",
        "embedding_label_stats", "embedding_near_dup", "embedding_topk",
        "embedding_topk_ivf", "embedding_topk_lsh",
        "embedding_topk_pandas", "error_split", "events_asof",
        "events_cube", "events_hourly", "events_hourly_stream",
        "events_json_props", "events_value_percentiles", "exact_dedup",
        "extract_answer", "lang_id_confusion",
        "lang_source_grouping_sets", "lang_source_rollup", "lang_vocab",
        "lsh_candidates", "minhash_signatures", "multimodal_requests",
        "near_dup_pairs", "ngram_jaccard", "order_priority_returns",
        "order_revenue_topk", "price_bracket_join", "pricing_summary",
        "question_preview", "regional_revenue", "simhash",
        "simhash_near_dup", "source_lang_pivot", "source_quality",
        "supplier_balance", "term_frequencies", "tfidf_top_terms",
        "top_customers_per_nation", "user_funnel", "user_sessions",
        "vertex_requests", "vertex_responses",
    }
)


# Calibration workload constants. The workload is a generated-data
# shuffle+agg sized to a few seconds idle: big enough that JVM noise is
# a small fraction, small enough not to eat the sweep budget. It reads
# no fixtures, so its time moves ONLY with box conditions (CPU
# contention, GC debt, thermal state) — exactly the signal to divide
# out of the query times.
CALIB_ROWS = 24_000_000
CALIB_PARTS = 64
CALIB_KEYS = 8192
BASELINE_QUERIES_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BASELINE_QUERIES.json"
)


def calibration_workload(spark) -> float:
    """Run the fixed shuffle+agg once; returns wall seconds. Kept as a
    function so tools (scale/A-B harnesses) can reuse the identical
    workload for their own normalization."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, CALIB_ROWS, 1, CALIB_PARTS)
        .select(
            (F.col("id") % CALIB_KEYS).alias("k"),
            ((F.col("id") * 2654435761) % 1000003).alias("v"),
        )
        .groupBy("k")
        .agg(
            F.sum("v").alias("s"),
            F.count("*").alias("n"),
            F.avg("v").alias("a"),
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return round(time.perf_counter() - t0, 3)


# Streaming-family handling (round-9 verdict item 3). Every streaming
# twin in the registry is named *_stream; their wall time is dominated
# by fixed micro-batch scheduling/checkpoint latency, which the
# shuffle+agg calibration does NOT rescale — three rounds of artifacts
# show the family drifting 1.4-1.6x normalized on a loaded box while
# compute-bound queries sit near 1x. They therefore get (a) their own
# calibration probe (streaming_calibration_workload) whose factor
# divides out scheduler drift, and (b) a TIGHTER flag multiplier: with
# the right probe absorbing the drift, a genuine 1.9x streaming
# regression must trip the gate instead of hiding under the generic 2x.
STREAM_SUFFIX = "_stream"
STREAM_FLAG_MULT = 1.75
STREAM_CALIB_FILES = 2
STREAM_CALIB_ROWS_PER_FILE = 1000


def streaming_calibration_workload(spark) -> float:
    """Fixed 2-micro-batch availableNow drain on generated data: a
    fresh tmp source dir with exactly STREAM_CALIB_FILES one-file
    parquet appends, read with maxFilesPerTrigger=1 so the drain runs
    exactly that many micro-batches of trivial (1000-row) data. Wall
    time is therefore almost pure per-micro-batch overhead — stream
    startup, file listing, offset/commit checkpointing, scheduler
    latency — i.e. the exact cost component of the *_stream family the
    shuffle+agg probe cannot see. Like calibration_workload it reads
    no fixtures, so its time moves only with box conditions."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    base = tempfile.mkdtemp(prefix="bench_stream_calib_")
    src = os.path.join(base, "src")
    try:
        for i in range(STREAM_CALIB_FILES):
            (
                spark.range(
                    i * STREAM_CALIB_ROWS_PER_FILE,
                    (i + 1) * STREAM_CALIB_ROWS_PER_FILE,
                    1,
                    1,
                )
                .withColumn("k", F.col("id") % 16)
                .write.mode("append")
                .parquet(src)
            )
        t0 = time.perf_counter()
        q = (
            spark.readStream.schema("id long, k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .groupBy("k")
            .agg({"id": "count"})
            .writeStream.format("noop")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def compute_slow_flags(
    mins_norm: dict[str, float],
    frozen: dict[str, float],
    stream_norm_active: bool = True,
) -> dict[str, dict]:
    """Per-query regression gate (round-7 verdict item 3): flag queries
    whose calibration-normalized min exceeds max(mult x, +0.3 s) of the
    frozen baseline — mult is 2x for compute-bound queries and
    STREAM_FLAG_MULT for the *_stream family (their own calibration
    probe absorbs scheduler drift, so the remaining headroom is for
    real regressions; a 1.9x streaming slowdown must flag, round-9
    verdict item 3). ``stream_norm_active`` must be False when the
    frozen baseline predates ``calib_stream_ref_sec`` (r10 ADVICE):
    in that fallback window *_stream mins are normalized by the
    COMPUTE probe, which leaves 1.4-1.6x scheduler drift on
    latency-bound queries — applying the tight 1.75x gate there would
    false-flag healthy streams, so they get the 2x compute multiplier
    until the next freeze. The 0.3 s absolute floor keeps sub-second
    queries from flagging on scheduler jitter; queries without a
    frozen entry (new this round) are skipped until the next freeze.
    Factored out of main() so the gate logic is unit-testable without
    a bench run."""
    flags = {}
    for name, t in mins_norm.items():
        b = frozen.get(name)
        if b is None:
            continue
        is_stream = name.endswith(STREAM_SUFFIX) and stream_norm_active
        mult = STREAM_FLAG_MULT if is_stream else 2.0
        if t > max(mult * b, b + 0.3):
            flags[name] = {"baseline": b, "now": t}
            if is_stream:
                flags[name]["mult"] = mult
    return flags


def load_query_baseline() -> dict | None:
    """BASELINE_QUERIES.json if present: {"calib_ref_sec": float,
    "query_mins_norm": {name: sec}, ...}. Absent → no normalization
    reference and no per-query flags (raw == normalized)."""
    try:
        with open(BASELINE_QUERIES_PATH) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def plan_info(df) -> dict | None:
    """Normalized formatted-plan digest + shape counters, so a plan
    regression (lost broadcast, new single-partition exchange) shows up
    in the round-over-round BENCH diff, not just in wall time. ExprIds,
    codegen ids, plan ids and temp paths are stripped before hashing —
    they vary per session while the plan shape does not.

    CAVEAT for diff readers: queries that consume a session-shared
    stage (the MinHash pair family, the trained-centroid and
    corpus-index stages) digest a checkpoint leaf (Scan ExistingRDD)
    once the stage is built, so their digests depend on RUN ORDER
    within the bench session — a changed digest for those queries is
    only a regression if the plan SHAPE counters moved with it."""
    try:
        jvm = df.sparkSession._jvm
        s = df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    except Exception:
        return None
    norm = re.sub(r"#\d+", "#", s)
    norm = re.sub(r"plan_id=\d+", "plan_id=", norm)
    norm = re.sub(r"RDD\[\d+\]", "RDD[]", norm)  # checkpoint leaves
    # higher-order-function lambda variables carry a SESSION-GLOBAL
    # counter (lambda x_4 vs lambda x_7 for the same plan, depending on
    # how many lambda-bearing plans the session built earlier) — same
    # volatility class as exprIds, discovered when a driver-side-only
    # refactor of the Bloom build shifted every downstream lambda id
    norm = re.sub(r"lambda x_\d+", "lambda x_", norm)
    norm = re.sub(r"\[codegen id : \d+\]", "", norm)
    norm = re.sub(r"(file|dbfs|s3a?|gs)://?\S+", "path:", norm)
    norm = re.sub(r"[a-z_]+_stream_[0-9a-f]+", "stream_tbl", norm)
    return {
        "digest": hashlib.sha256(norm.encode()).hexdigest()[:12],
        "exchanges": len(re.findall(r"\bExchange\b", s)),
        "broadcasts": len(
            re.findall(
                r"BroadcastExchange|BroadcastHashJoin|BroadcastNestedLoop",
                s,
            )
        ),
        "single_partition": s.count("SinglePartition"),
        # scans of a materialized relation: a cache or a checkpoint leaf
        "in_memory_scans": len(
            re.findall(r"InMemory(?:Relation|TableScan)|Scan ExistingRDD", s)
        ),
    }


def stamp_shared_stage(plans: dict[str, dict]) -> None:
    """r8 verdict item 5: self-describe run-order-dependent digests.
    Entries for queries that consume a session-shared materialized stage
    (queries.shared_stage_queries — source-introspected, never a
    hand-kept list) get the helpers they consume plus a
    ``cache_bypassed`` flag:

    - ``true`` — the captured plan shows NO materialized scan: the
      digest is the COLD full-pipeline capture (stage invalidated or
      not yet built at capture time) of a stage the timing may have
      read warm.
    - ``false`` (with ``shared_stages`` present) — the plan reads the
      built stage's checkpoint leaf — ``in_memory_scans`` > 0 is the
      tell.

    Either way the entry now says what its digest means instead of
    reading as a regression to anyone without the run-order context."""
    from genai_batch_processor_spark.queries import shared_stage_queries

    shared = shared_stage_queries()
    for name, info in plans.items():
        helpers = shared.get(name)
        if helpers:
            info["shared_stages"] = helpers
            info["cache_bypassed"] = info.get("in_memory_scans", 0) == 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs] + [
        n for n in sorted(qs) if n not in HEADLINE
    ]
    spark = get_spark("bench")
    # warm the JVM + parquet footers once
    qs[names[0]](spark, sf_dir).count()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # wall budget for the WHOLE sweep: later reps are skipped rather
    # than blowing a caller's timeout (a loaded box can triple rep
    # times; medians of 2 still beat a single sample). 600 s fits 3
    # idle reps (~470 s) and degrades to 1-2 reps under heavy load —
    # a clipped median beats a killed bench with no artifact at all.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "600"))
    sweep_t0 = time.perf_counter()
    try:
        load_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load_start = None
    baseline_q = load_query_baseline()
    calib_ref = (baseline_q or {}).get("calib_ref_sec")
    calib_stream_ref = (baseline_q or {}).get("calib_stream_ref_sec")
    times_reps: dict[str, list[float]] = {n: [] for n in names}
    calib_reps: list[float] = []
    calib_stream_reps: list[float] = []
    plans: dict[str, dict] = {}
    reps_run = 0
    for rep in range(reps):
        elapsed = time.perf_counter() - sweep_t0
        if rep > 0 and elapsed + elapsed / rep > budget_s:
            break  # another rep would overrun the budget
        reps_run = rep + 1
        # calibration leads each rep: a load spike mid-sweep lands on
        # the rep it distorts, and that rep's factor absorbs it.
        calib_reps.append(calibration_workload(spark))
        calib_stream_reps.append(streaming_calibration_workload(spark))
        for name in names:
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times_reps[name].append(
                round(time.perf_counter() - t0, 3)
            )
            if rep == 0:
                info = plan_info(df)
                if info is not None:
                    plans[name] = info
    stamp_shared_stage(plans)
    try:
        load_end = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load_end = None

    # rep 1 = the cold-cache pass every prior round measured (r1-
    # comparable); medians smooth transient load for round-over-round
    # reads.
    import statistics

    times = {n: ts[0] for n, ts in times_reps.items()}
    # statistics.median averages the middle pair on an even rep count
    # (the budget-clipped 2-rep case) — the upper-middle element would
    # systematically report the slower sample, the exact load artifact
    # medians exist to smooth
    medians = {
        n: round(statistics.median(ts), 3) for n, ts in times_reps.items()
    }
    # per-query min-of-reps: a load-robust LOWER bound (the best any rep
    # achieved — transient load can only inflate a sample, never deflate
    # it), round-7 verdict item 7. Caveat for readers: unlike rep-1,
    # mins benefit from warm session caches on shared-stage queries, so
    # min totals are comparable min-to-min across rounds, not to the
    # cold r1 baseline.
    mins = {n: round(min(ts), 3) for n, ts in times_reps.items()}
    # Calibration-normalized twins: each rep's sample is rescaled by
    # that rep's own factor (calib_ref / calib_rep), i.e. "what an idle
    # reference box would have read", THEN medians/mins are taken —
    # per-rep factors also absorb drift BETWEEN reps. Without a frozen
    # calib_ref (no BASELINE_QUERIES.json yet) factors are 1.
    factors = [
        (calib_ref / c) if (calib_ref and c > 0) else 1.0
        for c in calib_reps
    ]
    # Streaming-family factors from the micro-batch probe (round-9
    # verdict item 3): latency-bound queries rescale by latency drift,
    # not compute drift. Falls back to the compute factor while the
    # frozen baseline predates calib_stream_ref_sec.
    stream_factors = [
        (calib_stream_ref / c)
        if (calib_stream_ref and c > 0)
        else factors[i]
        for i, c in enumerate(calib_stream_reps)
    ]

    def _factor(name: str, i: int) -> float:
        return (
            stream_factors[i]
            if name.endswith(STREAM_SUFFIX)
            else factors[i]
        )

    norm_reps = {
        n: [round(t * _factor(n, i), 3) for i, t in enumerate(ts)]
        for n, ts in times_reps.items()
    }
    medians_norm = {
        n: round(statistics.median(ts), 3) for n, ts in norm_reps.items()
    }
    mins_norm = {n: round(min(ts), 3) for n, ts in norm_reps.items()}
    # the gate only means something at the baseline's own scale factor
    # (an sf0.001 debug run would flag fixed-overhead queries against
    # sf0.1 numbers); a baseline without an sf field predates the check
    # and is assumed sf0.1-frozen.
    baseline_sf = (baseline_q or {}).get("sf", 0.1)
    slow_vs_baseline = (
        compute_slow_flags(
            mins_norm,
            baseline_q.get("query_mins_norm", {}),
            stream_norm_active=bool(calib_stream_ref),
        )
        if baseline_q and float(sf) == baseline_sf
        else {}
    )
    full_total = round(sum(times.values()), 3)
    # Guard the r1-comparable headline: if a baseline query was renamed or
    # skipped, the sum silently covers less work. Flag it loudly instead.
    missing_baseline = sorted(R1_BASELINE_SET - times.keys())
    baseline_total = round(
        sum(t for n, t in times.items() if n in R1_BASELINE_SET), 3
    )

    # Full per-query times + plan digests go to a side file (and an earlier
    # stdout line): the driver captures only the LAST ~2000 chars of stdout,
    # so the FINAL line must stay small (r2's 14 kB line was unparseable).
    side = {
        "sf": float(sf),
        "queries": times,
        "query_reps": times_reps,
        "query_medians": medians,
        "query_mins": mins,
        "calib_reps": calib_reps,
        "calib_ref_sec": calib_ref,
        "calib_stream_reps": calib_stream_reps,
        "calib_stream_ref_sec": calib_stream_ref,
        "query_medians_norm": medians_norm,
        "query_mins_norm": mins_norm,
        "slow_vs_baseline": slow_vs_baseline,
        "plans": plans,
    }
    side_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_PLANS.json"
    )
    with open(side_path, "w") as f:
        json.dump(side, f, indent=1, sort_keys=True)
    print(json.dumps(side))  # earlier line: scrolls out of the tail capture

    slowest = dict(
        sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:15]
    )
    summary = {
        "metric": "headline_queries_total_runtime",
        # r1-comparable: same 55-query set BENCH_r01 measured
        "value": baseline_total,
        "unit": "sec",
        "queries": slowest,  # top-15 slowest; full map in BENCH_PLANS.json
        "n_queries": len(times),
        "full_total": full_total,
        "sec_per_query": round(full_total / max(len(times), 1), 3),
        "sf": float(sf),
        "reps": reps_run,
        # median-based twins of the two totals (per-query medians over
        # the same sets), plus recorded load context for drift reads
        "value_median": round(
            sum(m for n, m in medians.items() if n in R1_BASELINE_SET), 3
        ),
        "full_total_median": round(sum(medians.values()), 3),
        # min-of-reps twins: load-robust lower bounds (see side file for
        # per-query mins)
        "value_min": round(
            sum(m for n, m in mins.items() if n in R1_BASELINE_SET), 3
        ),
        "full_total_min": round(sum(mins.values()), 3),
        # calibration-normalized twins (round-7 verdict item 2): the
        # round-over-round comparison column — box-speed divided out
        "calib_sec": round(statistics.median(calib_reps), 3),
        "calib_ref_sec": calib_ref,
        "calib_stream_sec": round(
            statistics.median(calib_stream_reps), 3
        ),
        "calib_stream_ref_sec": calib_stream_ref,
        "value_median_norm": round(
            sum(m for n, m in medians_norm.items() if n in R1_BASELINE_SET),
            3,
        ),
        "full_total_median_norm": round(sum(medians_norm.values()), 3),
        "value_min_norm": round(
            sum(m for n, m in mins_norm.items() if n in R1_BASELINE_SET), 3
        ),
        "full_total_min_norm": round(sum(mins_norm.values()), 3),
        "n_slow_vs_baseline": len(slow_vs_baseline),
        "load_avg_start": load_start,
        "load_avg_end": load_end,
    }
    # Load context (r11 verdict item 5): the committed per-round artifact
    # kept being taken on a loaded box while the idle closing reading
    # lived only in BENCH_NOTES prose. The artifact now names the box
    # state AND carries the committed idle reference reading
    # (BENCH_IDLE.json, written by an idle closing run with
    # SPARK_GRAFT_BENCH_WRITE_IDLE=1) so raw round-over-round
    # comparisons have the idle number in-band. "Idle" needs BOTH
    # sensors: 1-min load < 1 at start (a box still DRAINING load
    # passes this alone) and the in-sweep calibration median within
    # 15% of the frozen idle reference — the calibration probe is the
    # sensor that actually rode along with the queries, so a load
    # spike mid-sweep (which load_avg_start cannot see and load_avg_end
    # conflates with the bench's own 32-thread work) flips the label.
    calib_idle = (
        calib_ref is None
        or statistics.median(calib_reps) <= 1.15 * calib_ref
    )
    summary["load_context"] = (
        "idle"
        if (load_start and load_start[0] < 1.0 and calib_idle)
        else "loaded"
    )
    idle_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_IDLE.json"
    )
    if (
        os.environ.get("SPARK_GRAFT_BENCH_WRITE_IDLE") == "1"
        and summary["load_context"] == "idle"
    ):
        # Freezing run: this run IS the idle reference — embed the
        # freshly written payload, not the stale previous file (r12
        # ADVICE: loading before overwriting embedded the OLD
        # reference in the freezing run's own artifact).
        idle_payload = {
            "value_median": summary["value_median"],
            "value_median_norm": summary["value_median_norm"],
            "full_total_median": summary["full_total_median"],
            "calib_sec": summary["calib_sec"],
            "n_queries": summary["n_queries"],
            "reps": summary["reps"],
            "load_avg_start": load_start,
        }
        with open(idle_path, "w") as f:
            json.dump(idle_payload, f, indent=1, sort_keys=True)
        summary["idle_reference"] = dict(
            idle_payload, note="this run wrote the idle reference"
        )
    elif os.path.exists(idle_path):
        try:
            with open(idle_path) as f:
                summary["idle_reference"] = json.load(f)
        except (OSError, ValueError):
            pass
    if slow_vs_baseline:
        summary["slow_vs_baseline"] = dict(
            sorted(
                slow_vs_baseline.items(),
                key=lambda kv: kv[1]["now"] - kv[1]["baseline"],
                reverse=True,
            )[:10]
        )
    if missing_baseline:
        summary["missing_baseline"] = missing_baseline
    line = json.dumps(summary)
    if len(line) > 1500:  # hard cap: never overflow the tail capture again
        summary["queries"] = {}
        summary.pop("slow_vs_baseline", None)  # full map in side file
        line = json.dumps(summary)
    print(line)


if __name__ == "__main__":
    main()
