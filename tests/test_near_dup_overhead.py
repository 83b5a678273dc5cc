"""Fixed per-call cost of the near-dup path: the Python → JVM work of
building its expression trees, and the Spark jobs a MinHash index load
runs to check what it reads."""

from __future__ import annotations

import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import SparkContext
from pyspark.sql import functions as F

from genai_batch_processor_spark.functions import exprs
from genai_batch_processor_spark.operators import dedup
from genai_batch_processor_spark.sources import index_store

_SCHEMA = "doc_id long, text string"
_OLD = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "a stitch in time saves nine and a penny saved is a penny earned",
    "all that glitters is not gold and all who wander are not lost",
    "to be or not to be that is the question whether tis nobler",
]
# a near copy of the first old text, an exact copy of the second, a
# near pair among the new texts themselves and an unrelated text
_NEW = [
    "the quick brown fox jumps over the lazy dog near the river banks",
    "a stitch in time saves nine and a penny saved is a penny earned",
    "every cloud has a silver lining and every dog has its day today",
    "every cloud has a silver lining and every dog has its day today!",
    "completely unrelated words about spark jobs and python gateways",
]


def _frames(spark):
    old = spark.createDataFrame(list(enumerate(_OLD)), _SCHEMA)
    new = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(_NEW)], _SCHEMA
    )
    return old, new


def _pairs(df):
    return sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())


def _count_round_trips(spark, fn):
    """Py4J commands ``fn()`` sends from this thread. Other threads are
    not counted: Py4J's finalizer thread releases JVM references that
    earlier code dropped, through the same client, at any time."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    calls = [0]

    def counting(*args, **kwargs):
        if threading.get_ident() == caller:
            calls[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        fn()
    finally:
        del client.send_command  # back to the class method
    return calls[0]


def test_near_dup_trees_are_built_once(spark):
    """A repeated minhash_index / incremental_near_dup_pairs call reuses
    its expression trees: only the DataFrame calls cross to the JVM.
    Built from scratch, minhash_index made 1,584 Py4J round trips and
    the probe 984; reused, 51 and 118."""
    old, new = _frames(spark)
    index = dedup.minhash_index(old, "doc_id", "text")
    rows = dedup.minhash_index(new, "doc_id", "text", fanout=False)
    dedup.incremental_near_dup_pairs(
        index, new, "doc_id", "text", batch_index=rows
    )
    n_index = _count_round_trips(
        spark, lambda: dedup.minhash_index(new, "doc_id", "text", fanout=False)
    )
    n_probe = _count_round_trips(
        spark,
        lambda: dedup.incremental_near_dup_pairs(
            index, new, "doc_id", "text", batch_index=rows
        ),
    )
    assert n_index <= 100, n_index
    assert n_probe <= 200, n_probe


def test_reused_trees_match_from_scratch(spark):
    """The same cached trees appear several times in one plan (the
    corpus index, the batch rows read twice by the probe) and still
    give the from-scratch answer: the union's near-dup pairs with at
    least one new side."""
    old, new = _frames(spark)
    scratch = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.near_dup_pairs(
            old.unionByName(new), "doc_id", "text"
        ).collect()
        if r.id_b >= 100
    )
    assert len(scratch) >= 3
    index = dedup.minhash_index(old, "doc_id", "text")
    probed = dedup.incremental_near_dup_pairs(index, new, "doc_id", "text")
    assert _pairs(probed) == scratch
    live_rows = dedup.minhash_index(new, "doc_id", "text", fanout=False)
    probed_live = dedup.incremental_near_dup_pairs(
        index, new, "doc_id", "text", batch_index=live_rows
    )
    assert _pairs(probed_live) == scratch


def test_once_is_per_gateway_and_thread_safe(spark, monkeypatch):
    """A value is built once per key and gateway, and another gateway
    (a new JVM) rebuilds it. Callers racing on a cold key may each
    build, but all of them get the one value the memo keeps."""
    built = []

    def build():
        built.append(1)
        time.sleep(0.01)  # keep the build in flight while others arrive
        return F.lit(len(built))

    workers = 16
    start = threading.Barrier(workers, timeout=30)

    def race(key):
        start.wait()
        return exprs.once(key, build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        key = ("test_once", object())
        with ThreadPoolExecutor(max_workers=workers) as pool:
            got = list(pool.map(race, [key] * workers, timeout=60))
    finally:
        sys.setswitchinterval(interval)
    assert all(g is got[0] for g in got)
    assert exprs.once(key, build) is got[0]
    n_built = len(built)

    monkeypatch.setattr(SparkContext, "_gateway", object())
    try:
        assert exprs.once(key, build) is not got[0]
        assert len(built) == n_built + 1
    finally:
        monkeypatch.undo()
    exprs.once(key, build)  # the live gateway again: a fresh memo
    assert len(built) == n_built + 2


def test_load_minhash_index_checks_in_three_jobs(spark, tmp_path):
    """Version, fingerprint and bucket-count checks are one collected
    aggregate over a schema-given read: at most 3 Spark jobs (the
    separate checks ran 8)."""
    old, _ = _frames(spark)
    path = str(tmp_path / "mh")
    index_store.save_minhash_index(
        dedup.minhash_index(old, "doc_id", "text"), path
    )
    sc = spark.sparkContext
    group = "minhash-load-jobs"
    sc.setJobGroup(group, "load_minhash_index job count")
    try:
        loaded = index_store.load_minhash_index(spark, path)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert n_jobs <= 3, n_jobs
    assert loaded.count() == len(_OLD) * dedup.LSH_BANDS
