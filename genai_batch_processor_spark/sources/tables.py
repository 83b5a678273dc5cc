"""Loaders for the deterministic synthetic tables under /root/testdata.

The reference's "sources" are in-memory iterables and provider files
(SURVEY.md §2.C scans); here every input is a parquet scan so Catalyst
gets pushdown + pruning for free. The `events` table stores
TIMESTAMP(NANOS), which Spark reads as long nanos (see session.py);
we normalize it to a micros timestamp column at load.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # The events fixture has shipped with two physical ts layouts
        # across rounds: TIMESTAMP(NANOS) (vanilla sessions reject it with
        # PARQUET_TYPE_ILLEGAL unless nanos surface as long) and plain
        # timestamp[us] with isAdjustedToUTC=false (which Spark ≥3.4 infers
        # as TIMESTAMP_NTZ — a type most ts arithmetic rejects). Both confs
        # are runtime-settable SQL confs, so set them here — the loader
        # must work under ANY session, not just the one session.get_spark
        # builds.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    ts_type = dict(df.dtypes).get("ts")
    if name == "events" and ts_type == "bigint":
        # nanos-as-long → truncate to micros → timestamp. The fixture DOES
        # carry sub-microsecond parts; truncation loses <1µs per value but
        # matches DuckDB's own nanos→micros truncation exactly, so
        # engine-parity (and any ts arithmetic) stays bit-identical.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif name == "events" and ts_type == "timestamp_ntz":
        # Belt-and-braces for sessions where inferTimestampNTZ was read
        # before we set it: session tz is UTC, so the NTZ wall clock IS
        # the instant — the cast relabels without shifting values.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
