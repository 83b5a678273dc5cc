"""SparkSession factory with scale-oriented defaults.

Replaces the reference's client construction
(``openai_batch_processor.py:39-77``, ``vertex_ai_batch_processor.py:34-52``):
the "session" here is a Spark session; provider credentials live in the
inference-client config (see :mod:`genai_batch_processor_spark.inference`),
never in the dataflow.

Defaults are chosen for correctness-portability against a DuckDB oracle
(UTC session timezone, nanos-as-long parquet reads) and for scale (AQE on,
shuffle partitions sized to cores locally — on a real cluster callers
override via ``spark.conf`` or spark-submit).
"""

from __future__ import annotations

import functools
import os
import tempfile

from pyspark.sql import SparkSession

# Timestamps: the `events` fixture stores TIMESTAMP(NANOS) which Spark's
# parquet reader rejects unless nanos are surfaced as long; we convert
# back to timestamps at the loader (sources/tables.py).
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


@functools.cache
def _local_checkpoint_dir() -> tempfile.TemporaryDirectory:
    """One temp checkpoint dir per process, removed at exit."""
    return tempfile.TemporaryDirectory(
        prefix="spark-checkpoint-", ignore_cleanup_errors=True
    )


def get_spark(app_name: str = "genai_batch_processor_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a 1000-executor cluster most of these are no-ops or overridden by
    the cluster conf; locally they make `local[N]` behave sanely:
    shuffle partitions ≈ cores (not 200), AQE coalesces/skew-splits at
    runtime, Arrow for any pandas-UDF boundary.
    """
    # Python workers must be able to import this package no matter what
    # the driver's cwd is: worker-crossing functions (mapInPandas
    # builders, stateful updates) may be cloudpickled by reference. The
    # workers inherit PYTHONPATH from the JVM env, which inherits ours —
    # set it BEFORE the JVM starts. (On a real cluster the equivalent is
    # shipping the package via --py-files or a venv archive.)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if repo_root not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([repo_root] + [p for p in parts if p])

    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(_NANOS_AS_LONG, "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    if not os.environ.get("SPARK_MASTER_SET"):
        # Local test/bench mode; spark-submit on a cluster sets the master.
        builder = builder.master(f"local[{cpus}]")
        # In local mode the ONE driver JVM hosts every executor thread,
        # and Spark's default -Xmx1g starves 32 threads into GCLocker
        # thrash (observed: a 7M-pair linkage self-join at sf1 died on
        # allocation retries while 123 GiB sat free). Heap is lazily
        # committed, so a generous cap costs nothing when idle. 31g,
        # not 32g: exactly 32g crosses the JVM's ~32 GiB
        # CompressedOops threshold and silently switches to 8-byte
        # object pointers — ~1.5x object overhead on row-heavy runs,
        # LESS usable capacity than 31g with compressed oops. On a
        # real cluster spark-submit sets driver/executor memory and
        # this branch never runs.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "31g"),
        )
        # Shared stages are reliable checkpoints (queries._shared); a
        # cluster sets spark.checkpoint.dir to shared storage instead.
        builder = builder.config(
            "spark.checkpoint.dir", _local_checkpoint_dir().name
        ).config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
