"""Continuous batch inference: a document STREAM driving the batch
pipeline facade, one provider job per micro-batch.

The reference is strictly one-shot (``run()`` over a materialized list,
``openai_batch_processor.py:277``). A production corpus ARRIVES — new
document files land on storage continuously — and the natural Spark
shape is ``foreachBatch``: each micro-batch of new documents runs the
full batch lifecycle (build → shard → submit → poll → join-back) and
appends its results idempotently.

Design points:
- **Stable custom_ids across batching.** Request ids derive from the
  natural key, NOT a per-batch ordinal — however the stream happens to
  chop the corpus into micro-batches, every document submits under the
  same custom_id it would get in a single batch run (assertable: the
  streamed result set equals the one-shot result set exactly).
- **Per-epoch release.** Once an epoch's results and errors are
  written, ``pipe.cleanup()`` unpersists the relation its ``run()``
  cached, so cached blocks do not accumulate over a long drain.
- **Fresh work_dir per micro-batch.** Spark caches file listings per
  path in a session; re-reading an overwritten ``output`` dir can serve
  stale listings. Each epoch gets ``{base}/epoch={id}`` for its JSONL
  round-trip.
- **Idempotent sink.** Results land under ``{out}/batch={epoch}`` with
  overwrite — Structured Streaming's at-least-once batch replay rewrites
  the directory instead of duplicating rows (same contract as
  ``windows.run_to_parquet``).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genai_batch_processor_spark.plans import pipeline as plans
from genai_batch_processor_spark.sources import compaction


def run_stream_inference(
    doc_stream: DataFrame,
    make_pipeline: Callable[[DataFrame, int], "plans.BatchPipeline"],
    *,
    key_col: str,
    out_dir: str,
    checkpoint_dir: str,
    **run_kwargs,
) -> None:
    """Drain ``doc_stream`` with availableNow, running the batch
    lifecycle per micro-batch. ``make_pipeline(batch_df, epoch_id)``
    constructs the pipeline (injecting the shared backend and an
    epoch-scoped work_dir); results/errors append under
    ``{out_dir}/results|errors/batch={epoch}``."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        docs = batch_df.withColumn("idx", F.col(key_col).cast("long"))
        pipe = make_pipeline(docs, epoch_id)
        results, errors = pipe.run(docs, **run_kwargs)
        flat = results.select(
            key_col,
            F.col("resp.custom_id").alias("custom_id"),
            F.to_json("resp").alias("resp_json"),
        )
        flat.write.mode("overwrite").parquet(
            compaction.epoch_dir(os.path.join(out_dir, "results"), epoch_id)
        )
        errors.select(F.to_json("resp").alias("resp_json")).write.mode(
            "overwrite"
        ).parquet(
            compaction.epoch_dir(os.path.join(out_dir, "errors"), epoch_id)
        )
        pipe.cleanup()

    q = (
        doc_stream.writeStream.foreachBatch(process)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
