"""The workloads. Each is a closed loop with one client: the next
iteration starts when the previous one has finished. An iteration's
makespan runs from the input table to every output materialized, and
its checks run after the clock stops."""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from genai_batch_processor_spark.functions import ids
from genai_batch_processor_spark.inference import orchestrator
from genai_batch_processor_spark.operators import dedup, responses
from genai_batch_processor_spark.plans import pipeline
from genai_batch_processor_spark.sources import compaction, index_store, jsonl
from genai_batch_processor_spark.streaming import ingest
from perfbench import checks, gen
from perfbench.trace import TimedBackend, Tracer, patched

# Sizes keep one run (set-up, cold and warm-up iterations, measured
# loop) inside the per-run time budget on a 4-core host; see
# BENCHMARK.json for why each workload exists. ``nominal_s`` is about a
# warm iteration's makespan on that host; it turns a run's ``--seconds``
# into a fixed iteration count.
WORKLOADS = {
    "dedupe_vertex": {"kind": "batch", "rows": 16_000, "distinct": 1_600,
                      "nominal_s": 5.0},
    "ingest_neardup": {"kind": "ingest", "corpus_docs": 2_000,
                       "files_per_wave": (2, 1), "docs_per_file": 60,
                       "nominal_s": 9.0},
}


def _dir_files(path: str, suffix: str) -> list[str]:
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.endswith(suffix) and not f.startswith((".", "_"))
    ]


class BatchWorkload:
    """``ids.assign_ids`` -> ``VertexAIBatchPipeline.run(dedupe_prompts=True)``
    -> answers written as parquet and the error relation counted."""

    def __init__(self, spark, work: str, seed: int, tracer: Tracer, spec: dict):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        table = gen.batch_table(seed, spec["rows"], spec["distinct"])
        self.rows = table.num_rows
        self.input_path = os.path.join(work, "input.parquet")
        pq.write_table(table, self.input_path)
        self.expected = checks.expected_batch(table)

    def iteration(self, it: int) -> dict:
        spark, tr = self.spark, self.tracer
        wd = os.path.join(self.work, f"iter{it}")
        backend = TimedBackend(orchestrator.VertexLocalMockBackend(spark), tr)
        pipe = pipeline.VertexAIBatchPipeline(
            spark, backend=backend, work_dir=wd
        )
        answers_path = os.path.join(wd, "answers")
        targets = [
            (jsonl, "write_jsonl", "jsonl.sink"),
            (orchestrator, "run_job", "orchestrator.run_job"),
            (pipe, "validate_request", "pipeline.validate"),
        ] if tr.enabled else []
        with patched(tr, targets):
            t0 = time.perf_counter()
            with tr.span("iteration"):
                with tr.span("ids.assign"):
                    df = ids.assign_ids(
                        spark.read.parquet(self.input_path), "doc_id"
                    )
                with tr.span("pipeline.run"):
                    results, errors = pipe.run(
                        df,
                        dedupe_prompts=True,
                        poll_interval_seconds=0.01,
                    )
                with tr.span("results.collect"):
                    results.select(
                        "idx",
                        responses.extract_vertex_text(F.col("resp")).alias(
                            "answer"
                        ),
                    ).write.parquet(answers_path)
                with tr.span("results.errors"):
                    n_errors = errors.count()
            makespan = time.perf_counter() - t0

        answered = pq.read_table(answers_path)
        error_ids = [r[0] for r in errors.select(
            F.get_json_object(F.col("resp.request"), "$.custom_id")
        ).collect()]
        sink = _dir_files(os.path.join(wd, "input"), ".txt")
        requests_sent = 0
        for path in sink:
            with open(path, "rb") as f:
                requests_sent += f.read().count(b"\n")
        sink_bytes = sum(os.path.getsize(p) for p in sink)
        problems = checks.check_batch(
            self.expected,
            answered["idx"].to_pylist(),
            answered["answer"].to_pylist(),
            error_ids,
        )
        problems += checks.check_billing(self.expected, requests_sent)
        if n_errors != len(error_ids):
            problems.append(f"error count {n_errors} != {len(error_ids)} ids")
        shutil.rmtree(wd, ignore_errors=True)
        return {
            "makespan": makespan,
            "provider_s": backend.seconds,
            "problems": problems,
            "counts": {
                "provider.requests": requests_sent,
                "orchestrator.status_calls": backend.calls["status"],
                "jsonl.sink_files": len(sink),
                "jsonl.sink_bytes": sink_bytes,
                "results.rows": answered.num_rows,
                "results.error_rows": n_errors,
                "billed_frac": requests_sent / self.rows,
            },
        }


class IngestWorkload:
    """Index a corpus, then drain two waves of pre-staged arrival files
    through the near-dup probe stream (``availableNow``), compacting the
    epoch sinks between the waves, and read the pair report."""

    def __init__(self, spark, work: str, seed: int, tracer: Tracer, spec: dict):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        data = gen.ingest_inputs(
            seed, spec["corpus_docs"], spec["files_per_wave"],
            spec["docs_per_file"],
        )
        self.corpus_path = os.path.join(work, "corpus.parquet")
        pq.write_table(data["corpus"], self.corpus_path)
        self.waves = []
        texts = dict(zip(data["corpus"]["doc_id"].to_pylist(),
                         data["corpus"]["text"].to_pylist()))
        for w, files in enumerate(data["waves"]):
            paths = []
            for f, table in enumerate(files):
                path = os.path.join(work, "waves", f"w{w}-part-{f}.parquet")
                os.makedirs(os.path.dirname(path), exist_ok=True)
                pq.write_table(table, path)
                paths.append(path)
                texts.update(zip(table["doc_id"].to_pylist(),
                                 table["text"].to_pylist()))
            self.waves.append(paths)
        self.texts = texts
        self.expected = checks.expected_pairs(texts, data["planted"])

    def _stage(self, wave: int, shards: str) -> None:
        os.makedirs(shards, exist_ok=True)
        for path in self.waves[wave]:
            shutil.copy(path, shards)

    def iteration(self, it: int) -> dict:
        spark, tr = self.spark, self.tracer
        wd = os.path.join(self.work, f"iter{it}")
        shards = os.path.join(wd, "arrivals")
        out = os.path.join(wd, "probe_out")
        index_path = os.path.join(wd, "corpus_index")
        sink_roots = [os.path.join(out, r) for r in ("pairs", "index")]
        counts = {}

        def drain():
            with tr.span("ingest.drain"):
                stream = (
                    spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(shards)
                )
                ingest.near_dup_probe_stream_to_parquet(
                    stream, index, "doc_id", "text", out,
                    os.path.join(wd, "ckpt"),
                )

        def sink_files() -> int:
            return sum(compaction.dir_stats(spark, r)[0] for r in sink_roots)

        self._stage(0, shards)
        t0 = time.perf_counter()
        with tr.span("iteration"):
            with tr.span("dedup.index_build"):
                corpus = spark.read.parquet(self.corpus_path)
                index_store.save_minhash_index(
                    dedup.minhash_index(corpus, "doc_id", "text"), index_path
                )
            with tr.span("index_store.load"):
                index = index_store.load_minhash_index(
                    spark, index_path
                ).persist()
            drain()
            if tr.enabled:
                counts["compaction.files_before"] = sink_files()
            with tr.span("compaction.compact"):
                for root in sink_roots:
                    compaction.compact_epoch_sink(spark, root)
                    compaction.gc_epoch_sink(spark, root)
            if tr.enabled:
                counts["compaction.files_after"] = sink_files()
            self._stage(1, shards)
            drain()
            with tr.span("compaction.read"):
                pairs = [
                    (r.id_a, r.id_b, r.jaccard)
                    for r in compaction.read_epoch_sink(
                        spark, sink_roots[0]
                    ).select("id_a", "id_b", "jaccard").collect()
                ]
        makespan = time.perf_counter() - t0
        index.unpersist()

        counts["ingest.pairs"] = len(pairs)
        counts["index_store.index_bytes"] = compaction.dir_stats(
            spark, index_path
        )[1]
        problems = checks.check_pairs(pairs, self.texts, self.expected)
        shutil.rmtree(wd, ignore_errors=True)
        return {
            "makespan": makespan,
            "provider_s": 0.0,
            "problems": problems,
            "counts": counts,
        }


def make(name: str, spark, work: str, seed: int, tracer: Tracer):
    spec = WORKLOADS[name]
    cls = BatchWorkload if spec["kind"] == "batch" else IngestWorkload
    return cls(spark, work, seed, tracer, spec)
