"""Physical-plan assertions: the plans we ship are the plans we designed.

Catches scale regressions at test time: a reintroduced single-reducer
window, a lost parquet pushdown, a broadcast that silently became a
sort-merge join, or a Python UDF sneaking into a JVM-only pipeline.
"""

from __future__ import annotations

import re
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from functools import partial

import pytest
from pyspark.sql import functions as F

from genai_batch_processor_spark import queries
from genai_batch_processor_spark.operators import (
    curation,
    dedup,
    linkage,
    similarity,
)


def _docs(spark, sf_dir):
    return queries.load_table(spark, sf_dir, "documents")


def _simhash_pairs(spark, sf_dir):
    n = queries._doc_count_shared(spark, sf_dir)
    return dedup.simhash_near_dup_pairs(
        _docs(spark, sf_dir),
        "doc_id",
        "text",
        max_bucket=dedup.adaptive_max_bucket(n),
        width=dedup.adaptive_simhash_width(n),
    )


def _rrf_of_operators(spark, sf_dir):
    emb, qs = queries._ann_queries(spark, sf_dir)
    return curation.rrf_fuse(
        [similarity.topk_bruteforce(emb, qs), similarity.topk_int8(emb, qs)],
        k_const=queries.RRF_K,
        topk=similarity.TOPK_DEFAULT,
    )


# Queries that serve a shared stage return its checkpoint leaf, whose
# plan shows none of the operators these tests pin; their plan is read
# from the operators the stage is built from (the queries.py builds).
STAGE_OPERATORS = {
    "near_dup_pairs": lambda spark, sf_dir: dedup.near_dup_pairs(
        _docs(spark, sf_dir), "doc_id", "text"
    ),
    "simhash_near_dup": _simhash_pairs,
    "rrf_fusion": _rrf_of_operators,
    "part_match_candidates": lambda spark, sf_dir: linkage.blocked_pairs(
        queries._parts_with_bands(spark, sf_dir),
        "p_partkey",
        "p_name",
        ["p_brand", "noun"],
    ),
    "part_match_multikey": lambda spark, sf_dir: linkage.multi_pass_pairs(
        queries._parts_with_bands(spark, sf_dir),
        "p_partkey",
        "p_name",
        ["p_brand", "noun"],
        [["band_a"], ["band_b"]],
    ),
}


def _plan(spark, name, sf_dir):
    """Formatted physical plan of query ``name`` (of its operators, for
    the shared-stage queries in STAGE_OPERATORS). A plan that reads no
    fixture table is a materialized leaf, not an operator plan, and
    fails here instead of passing every assertion vacuously."""
    df = STAGE_OPERATORS.get(name, queries.QUERIES[name])(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Scan parquet" in plan, f"{name}: plan reads no fixture table"
    return plan


def _nodes(plan, name):
    """Number of ``name`` operators in a formatted plan. The plan names
    each node twice (in the tree and in its details section) and never
    prints ``Exchange hashpartitioning``, so count the ``(id) name``
    details headers."""
    return len(re.findall(rf"\(\d+\) {name}\b", plan))


# queries whose plans must never funnel through one partition
NO_SINGLE_PARTITION = [
    "assign_ids",
    "joinback",
    "label_distribution",
    "near_dup_pairs",
    "simhash_near_dup",
    "pricing_summary",
    "events_hourly",
    "doc_stats",
    "batch_shards",
    "training_order",
    "prompt_dedup_fanout",
    "snapshot_changes",
    "incremental_inference",
    "retry_responses",
    "winnow_pairs",
    "chunk_vote",
    "mixture_sample",
    "span_dedup_stats",
    "rrf_fusion",
]

# pure column-expression pipelines: no Python evaluation allowed
JVM_ONLY = [
    "build_requests",
    "mock_responses",
    "doc_stats",
    "minhash_signatures",
    "simhash",
    "events_hourly",
    "pricing_summary",
    "price_moments",
    "quality_unpivot",
]


@pytest.mark.parametrize("name", NO_SINGLE_PARTITION)
def test_no_single_partition_exchange(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    assert "SinglePartition" not in plan, f"{name} funnels through 1 task"


@pytest.mark.parametrize("name", JVM_ONLY)
def test_no_python_in_jvm_pipelines(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"{name} dropped into Python: {marker}"


def test_string_key_assign_ids_is_bucket_parallel(spark, sf_dir):
    """A string-keyed assign_ids must use the byte-proxy bucketed path:
    no unpartitioned row_number window (= no SinglePartition exchange),
    and the ordinal must equal the sorted position under Spark's own
    (UTF-8 byte-wise) string ordering."""
    from genai_batch_processor_spark.functions import ids

    docs = queries.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    proxy = ids._order_proxy("text", docs.schema["text"].dataType)
    fine = ids._scale_free_bucket(proxy)
    assert docs.select(fine.alias("b")).distinct().count() >= 2
    out = ids.assign_ids(docs, "text")
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan, "string key fell back to 1 task"

    rows = out.select("text", "idx").collect()
    by_key = sorted(rows, key=lambda r: r["text"].encode("utf-8"))
    assert [r["idx"] for r in by_key] == list(range(len(rows)))


def _shard_input(spark):
    return spark.range(300).select(
        F.col("id").alias("idx"),
        (F.col("id") % 17 * 40).alias("n_bytes"),
        (F.col("id") % 5 * 30).alias("n_tokens"),
    )


def _offset_users(spark, sf_dir):
    """(name, build) for every caller of the bucket-offset primitive."""
    from genai_batch_processor_spark.functions import ids
    from genai_batch_processor_spark.operators import batching

    docs = queries.load_table(spark, sf_dir, "documents")
    shards = _shard_input(spark)
    caps = {"max_lines": 40, "max_bytes": 4_000}
    return [
        ("assign_ids", lambda: ids.assign_ids(docs, "doc_id")),
        (
            "exclusive_prefix_sums",
            lambda: batching.exclusive_prefix_sums(
                shards, order_col="idx", cols=[("n_bytes", "c")]
            ),
        ),
        ("plan_shards", lambda: batching.plan_shards(shards, **caps)),
        (
            "plan_shards_tokens",
            lambda: batching.plan_shards(
                shards, tokens_col="n_tokens", max_tokens=2_000, **caps
            ),
        ),
    ]


def test_bucket_offsets_fold_to_one_array_literal(spark, sf_dir):
    """Per-bucket offsets reach the rows as a constant-folded array
    literal read by ``element_at``: no ``from_json`` left to evaluate
    per row, no map literal probed per row, and no single-partition
    exchange anywhere in the plan."""
    for name, build in _offset_users(spark, sf_dir):
        qe = build()._jdf.queryExecution()
        optimized = qe.optimizedPlan().toString()
        assert "element_at([" in optimized, name
        for marker in ("from_json", "JsonToStructs", "map(", "CreateMap"):
            assert marker not in optimized, f"{name}: {marker}"
        physical = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
        assert "SinglePartition" not in physical, name


def test_bucket_offsets_pre_job_counts(spark, sf_dir):
    """Building each plan runs a fixed number of eager scheduler jobs:
    the per-bucket collect for assign_ids; plus the ordinal max() for
    exclusive_prefix_sums; plus the largest-row max() for plan_shards.
    AQE runs each of those actions as a map-stage job and a result
    job."""
    sc = spark.sparkContext
    want = {
        "assign_ids": 2,
        "exclusive_prefix_sums": 4,
        "plan_shards": 6,
        "plan_shards_tokens": 6,
    }
    for name, build in _offset_users(spark, sf_dir):
        group = f"pre-jobs-{name}"
        sc.setJobGroup(group, name)
        try:
            build()
        finally:
            sc.setJobGroup(None, None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert n_jobs == want[name], f"{name}: {n_jobs} pre-jobs"


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, "pricing_summary", sf_dir)
    assert re.search(r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_shipdate", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if ":" in c}
    # 16-column table pruned to exactly what the query touches
    assert read_cols <= {
        "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_regional_revenue_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, "regional_revenue", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_topk_broadcasts_queries(spark, sf_dir):
    """Pins the OPERATOR's design (broadcast query side, unshuffled
    corpus). q_embedding_topk itself now serves the session-shared
    materialized leaf (r14: _topk_method_shared), so the design must
    be read from the operator plan directly — the same convention as
    the other shared-stage queries (see STAGE_OPERATORS)."""
    emb = queries.load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < queries.ANN_N_QUERIES)
    df = similarity.topk_bruteforce(emb, qs)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the corpus side must not shuffle before the join
    assert _nodes(plan, "Exchange") <= 2  # only the rank window


def test_near_dup_single_scan(spark, sf_dir):
    plan = _plan(spark, "near_dup_pairs", sf_dir)
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1, "near-dup must scan the corpus once"


def test_semi_anti_joins_use_semi_anti_strategies(spark, sf_dir):
    """EXISTS/NOT-EXISTS shapes must stay semi/anti joins (no row
    duplication, keys-only shuffle) with the status filter pushed into
    the probe-side scan."""
    plan = _plan(spark, "order_priority_returns", sf_dir)
    assert "LeftSemi" in plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)", plan)
    plan = _plan(spark, "customers_without_orders", sf_dir)
    assert "LeftAnti" in plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(o_orderstatus,O\)", plan)


def test_range_join_broadcasts_bracket_dim(spark, sf_dir):
    """Non-equi bracket join: the 4-row dim broadcasts; the part side
    must not shuffle into a sort-merge strategy."""
    plan = _plan(spark, "price_bracket_join", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pandas_ann_scans_corpus_once_unshuffled(spark, sf_dir):
    """The Arrow scorer runs on the scan partitioning: exactly one
    corpus scan feeding MapInPandas, shuffles only for the rank window."""
    plan = _plan(spark, "embedding_topk_pandas", sf_dir)
    assert "MapInPandas" in plan
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1
    assert _nodes(plan, "Exchange") <= 1  # rank window only


def test_ngram_jaccard_single_scan(spark, sf_dir):
    plan = _plan(spark, "ngram_jaccard", sf_dir)
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1, "n-gram near-dup must scan the corpus once"


def test_order_revenue_topk_take_ordered_and_pushdown(spark, sf_dir):
    """Q3 shape: top-k must be TakeOrderedAndProject (per-partition heap
    + driver merge, no global sort) and both date predicates must reach
    their parquet scans."""
    plan = _plan(spark, "order_revenue_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(o_orderdate", plan)
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(l_shipdate", plan)
    assert "SinglePartition" not in plan


def test_banding_does_not_recompute_signatures(spark, sf_dir):
    """The explode-side filter must not re-evaluate the md5-heavy
    signature pipeline: md5 may appear in projections (once for the
    shingle set, once for cheap band keys) but never inside a Filter."""
    for name in ("lsh_candidates", "near_dup_pairs", "simhash_near_dup"):
        plan = _plan(spark, name, sf_dir)
        for m in re.finditer(r"\(\d+\) Filter[^(]*\nInput[^\n]*\nCondition : ([^\n]*)", plan):
            assert "md5" not in m.group(1), f"{name}: filter recomputes hashing"


def test_correlated_min_decorrelates(spark, sf_dir):
    """Q2 shape: the correlated min subquery must plan as ONE aggregate
    over lineitem joined back — no per-row subquery re-execution, no
    cartesian product."""
    plan = _plan(spark, "min_cost_supplier", sf_dir)
    assert "Subquery" not in plan, "correlated subquery not decorrelated"
    assert "CartesianProduct" not in plan


def test_exists_plans_as_semi_anti(spark, sf_dir):
    """Q21 shape: EXISTS → left-semi, NOT EXISTS → left-anti; never a
    materialized distinct + inner join."""
    plan = _plan(spark, "lone_return_suppliers", sf_dir)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_centroids_partial_agg_after_explode(spark, sf_dir):
    """posexplode fans 64× but the shuffle must carry only partial sums
    per (label, dim): partial+final HashAggregate pair, JVM-side."""
    plan = _plan(spark, "embedding_centroids", sf_dir)
    assert "Generate" in plan
    assert _nodes(plan, "HashAggregate") >= 2
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    """orders⋈lineitem written bucketed+sorted by orderkey: the join
    must run with ZERO Exchange and ZERO Sort — the write-time shuffle
    is amortized over every future join. The same join over the plain
    parquet MUST show exchanges (proves bucketing, not AQE, removed
    them)."""
    from genai_batch_processor_spark.sources.bucketing import (
        drop_table,
        write_bucketed,
    )
    from genai_batch_processor_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # Spark 3+ ignores bucket sort order unless this is on (and each
    # bucket is one file — write_bucketed guarantees that).
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
    )
    try:
        write_bucketed(
            orders, "orders_b", "o_orderkey", 8, str(tmp_path / "ob")
        )
        write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            "lineitem_b", "o_orderkey", 8, str(tmp_path / "lb"),
        )
        joined = spark.table("orders_b").join(
            spark.table("lineitem_b"), "o_orderkey"
        )
        plan = spark._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles"
        assert "(1) Sort" not in plan and ") Sort\n" not in plan, (
            "bucketed+sorted join still sorts"
        )

        plain = orders.join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        )
        plain_plan = spark._jvm.PythonSQLUtils.explainString(
            plain._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" in plain_plan, "control join should shuffle"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset(
            "spark.sql.legacy.bucketedTableScan.outputOrdering"
        )
        drop_table(spark, "orders_b")
        drop_table(spark, "lineitem_b")


def test_salted_agg_spreads_hot_keys(spark, sf_dir):
    """The salted aggregate must shuffle twice (once on (key, salt),
    once on key) with map-side partial aggregation, and never funnel
    through one partition before the final merge."""
    plan = _plan(spark, "salted_event_totals", sf_dir)
    assert _nodes(plan, "HashAggregate") >= 3
    assert "SinglePartition" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_salted_join_broadcasts_replicated_small_side(spark, sf_dir):
    """The salted join must broadcast the exploded small side (a
    Generate feeding a BroadcastExchange) — never shuffle the big
    side."""
    plan = _plan(spark, "salted_nation_balance", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "Generate" in plan


def test_partitioned_sink_prunes_at_read(spark, sf_dir, tmp_path):
    """A lang-partitioned parquet sink must let a lang predicate prune
    at the DIRECTORY level: the filter shows up as a PartitionFilter
    (zero data files from other langs opened), not a post-scan
    Filter."""
    from genai_batch_processor_spark.sources.tables import load_table

    out = str(tmp_path / "docs_by_lang")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.partitionBy("lang").parquet(out)

    rd = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = spark._jvm.PythonSQLUtils.explainString(
        rd._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"PartitionFilters: \[[^\]]*lang[^\]]*=[^\]]*en", plan), (
        "lang predicate did not become a partition filter"
    )
    n_langs = docs.select("lang").distinct().count()
    assert rd.count() == docs.filter(F.col("lang") == "en").count()
    assert n_langs > 1  # pruning actually skipped other directories


def test_histogram_quantiles_partial_agg(spark, sf_dir):
    """The mergeable-quantile path must partial-aggregate the histogram
    map-side (the whole point vs exact percentiles) and stay JVM-only."""
    plan = _plan(spark, "value_histogram_quantiles", sf_dir)
    assert _nodes(plan, "HashAggregate") >= 2
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "SinglePartition" not in plan


def test_bigrams_aggregate_after_generate(spark, sf_dir):
    """Bigram fan-out must feed a partial aggregate — the shuffle
    carries (bigram, count) partials, never the expanded pair rows
    unaggregated."""
    plan = _plan(spark, "word_bigrams", sf_dir)
    assert "Generate" in plan
    assert _nodes(plan, "HashAggregate") >= 2
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_daily_rollup_reaggregates_hourly(spark, sf_dir):
    """The daily level must aggregate the hourly aggregate (4
    HashAggregates: partial+final at each level), not rescan raw events
    twice."""
    plan = _plan(spark, "events_daily_rollup", sf_dir)
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1, "rollup must scan events once"
    assert _nodes(plan, "HashAggregate") >= 4


def test_int8_topk_broadcasts_queries_and_avoids_corpus_shuffle(
    spark, sf_dir
):
    """Quantized retrieve must keep the brute-force shape: query side
    broadcast, corpus never hash-shuffled except for the two per-query
    rank windows (shortlist + final). Read from the operator plan, as
    in test_embedding_topk_broadcasts_queries: q_embedding_topk_int8
    serves the session-shared materialized leaf."""
    emb = queries.load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < queries.ANN_N_QUERIES)
    df = similarity.topk_int8(emb, qs)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert _nodes(plan, "Exchange") <= 4
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_chunking_is_jvm_only_and_packing_partitions_by_group(
    spark, sf_dir
):
    """The chunk fan-out must stay inside codegen (no Python), and
    packing must window per source — never a global single-partition
    order."""
    plan = _plan(spark, "doc_chunks", sf_dir)
    assert "Generate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    plan = _plan(spark, "chunk_packing", sf_dir)
    assert "SinglePartition" not in plan


def test_dsir_scoring_join_is_broadcast(spark, sf_dir):
    """dsir_weights' scoring join (corpus feature stream x bucket
    model) must broadcast the model side — the feature stream never
    shuffles for it. The model is exactly DSIR_BUCKETS rows, so the
    broadcast is bounded at any corpus scale; the only
    SinglePartition point is the 1-row totals aggregate."""
    plan = _plan(spark, "dsir_weights", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_span_probe_broadcasts_batch_not_index(spark, sf_dir):
    """The ingest probe must broadcast the (small) batch spans into one
    scan of the corpus span index — a plan that shuffles the index per
    ingest defeats incrementality at scale. Asserting the ABSENCE of
    shuffle joins (not just the presence of a broadcast one) is what
    pins the direction: without the explicit broadcast hints the
    planner could legally broadcast the INDEX side at fixture scale
    and this test would still see a BroadcastHashJoin."""
    plan = _plan(spark, "incremental_span_dup", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "SinglePartition" not in plan


def _stage_keys(name):
    return [k for k in queries._STAGES if k[0] == name]


class _SlowFuture(queries.Future):
    """Widens the check-then-insert window in _shared, so a store
    without its lock lets several threads claim one key."""

    def __init__(self):
        time.sleep(0.05)
        super().__init__()


def _race(fn, n=8):
    """Run ``fn`` in ``n`` threads released together; their results."""
    start = threading.Barrier(n, timeout=30)

    def call(_):
        start.wait()
        return fn()

    with ThreadPoolExecutor(max_workers=n) as pool:
        return list(pool.map(call, range(n)))


def test_shared_stage_single_flight(spark, monkeypatch):
    """8 threads cold-build one key: build() runs once and every thread
    gets the same object."""
    monkeypatch.setattr(queries, "Future", _SlowFuture)
    sf = "/shared-stage-test/single-flight"
    calls = []

    def build():
        calls.append(1)
        time.sleep(0.3)  # keep the build in flight while the rest arrive
        return object()

    try:
        got = _race(lambda: queries._shared(spark, "t_single", sf, build=build))
        assert len(calls) == 1
        assert all(g is got[0] for g in got)
        assert len(_stage_keys("t_single")) == 1
    finally:
        queries.invalidate_shared_stages(sf_dir=sf)


def test_shared_stage_build_error_reaches_waiters_and_is_not_cached(
    spark, monkeypatch
):
    """A raising build() reaches every concurrent caller, runs once,
    and leaves nothing cached: the next call rebuilds."""
    monkeypatch.setattr(queries, "Future", _SlowFuture)
    sf = "/shared-stage-test/error"
    calls = []

    def failing():
        calls.append(1)
        time.sleep(0.3)
        raise RuntimeError("build failed")

    def call():
        try:
            queries._shared(spark, "t_error", sf, build=failing)
        except RuntimeError as exc:
            return exc
        return None

    try:
        errors = _race(call)
        assert len(calls) == 1
        assert isinstance(errors[0], RuntimeError)
        assert all(e is errors[0] for e in errors)
        assert _stage_keys("t_error") == []
        assert queries._shared(spark, "t_error", sf, build=lambda: 42) == 42
        assert len(_stage_keys("t_error")) == 1
    finally:
        queries.invalidate_shared_stages(sf_dir=sf)


def test_shared_stage_distinct_keys_build_concurrently(spark):
    """Two keys build at the same time: each build waits for the other
    on a barrier, which breaks (timeout) if the store's lock is held
    while build() runs."""
    sf = "/shared-stage-test/distinct"
    both = threading.Barrier(2, timeout=10)

    def build():
        both.wait()
        return object()

    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            a, b = pool.map(
                lambda key: queries._shared(
                    spark, "t_distinct", sf, key, build=build
                ),
                ("a", "b"),
            )
        assert a is not b
        assert len(_stage_keys("t_distinct")) == 2
    finally:
        queries.invalidate_shared_stages(sf_dir=sf)


def _built_as_checkpoint_leaf(spark, build):
    """Run a shared-stage build and check how it is stored: as a
    checkpoint leaf (the optimized plan is one LogicalRDD), with no
    entry added to the persisted RDDs."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    df = build()
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    return df


def test_part_pairs_cache_invalidation_and_cap(spark, sf_dir):
    """r8 advice: the session-shared blocking stages need an official
    eviction hook (fixture regenerated mid-session → stale stage) and a
    size cap (many sf_dirs in one session → unbounded stored stages).
    invalidate_shared_stages drops by sf_dir or wholesale; inserts past
    the per-name cap evict the oldest entry. Every stage is stored as a
    checkpoint leaf, nothing persisted."""
    queries.invalidate_shared_stages()
    assert queries._STAGES == {}

    _built_as_checkpoint_leaf(
        spark, lambda: queries._part_pairs_shared(spark, sf_dir, "single")
    )
    assert len(_stage_keys("part_pairs")) == 1

    # scoped invalidation: a different sf_dir string is untouched
    assert queries.invalidate_shared_stages(sf_dir="/no/such/dir") == 0
    assert len(_stage_keys("part_pairs")) == 1
    assert queries.invalidate_shared_stages(sf_dir=sf_dir) == 1
    assert _stage_keys("part_pairs") == []

    # cap: shrink the (per-name) cap to 1 and insert a second entry —
    # the first must be evicted
    old_cap = queries._STAGE_CACHE_MAX
    try:
        queries._STAGE_CACHE_MAX = 1
        for which in ("single", "multi"):
            _built_as_checkpoint_leaf(
                spark,
                lambda: queries._part_pairs_shared(spark, sf_dir, which),
            )
        assert _stage_keys("part_pairs") == [
            ("part_pairs", spark.sparkContext.applicationId, sf_dir, "multi")
        ]
        # wholesale invalidation drops the one surviving entry
        assert queries.invalidate_shared_stages() == 1
    finally:
        queries._STAGE_CACHE_MAX = old_cap
        queries.invalidate_shared_stages()


def test_components_stage_leaves_no_local_checkpoint(spark, sf_dir):
    """connected_components frees each localCheckpoint as soon as
    nothing reads it, so building the shared clustering stage adds no
    entry to the persisted RDDs; the distributed rounds keep only the
    last round's, which backs their result."""
    queries.invalidate_shared_stages(sf_dir=sf_dir)
    comps = _built_as_checkpoint_leaf(
        spark, lambda: queries._components_shared(spark, sf_dir)
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    rounds = dedup.connected_components(
        queries._near_dup_pairs_shared(spark, sf_dir), driver_edge_bound=0
    )
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 1
    assert sorted(rounds.collect()) == sorted(comps.collect())


def test_invalidate_shared_stages_covers_every_cache(spark, sf_dir):
    """r9 self-review: the staleness/eviction hook must cover ALL
    session-shared stages, not just the blocking stages the r8 advice
    named. Populate two different stages (each a checkpoint leaf,
    nothing persisted), invalidate by sf_dir, and require both dropped
    — and no module-level *_CACHE dict may exist beside the one
    shared-stage store, so a new cache cannot silently fall outside
    the hook."""
    src_caches = {
        name
        for name, obj in vars(queries).items()
        if re.fullmatch(r"_[A-Z_]*CACHE", name) and isinstance(obj, dict)
    }
    assert src_caches == set(), (
        f"stage caches outside the shared-stage store: {sorted(src_caches)}"
    )

    queries.invalidate_shared_stages()
    for helper in (queries._near_dup_pairs_shared, queries._simhash_pairs_shared):
        _built_as_checkpoint_leaf(spark, lambda: helper(spark, sf_dir))
    assert queries.invalidate_shared_stages(sf_dir="/no/such/dir") == 0
    dropped = queries.invalidate_shared_stages(sf_dir=sf_dir)
    assert dropped >= 2
    assert all(key[2] != sf_dir for key in queries._STAGES)


def _emb_index(spark, sf_dir):
    cents = queries._trained_centroids_shared(spark, sf_dir)
    return queries._emb_index_shared(spark, sf_dir, cents)


# Every DataFrame-valued shared stage, by the helper that serves it,
# plus queries whose result is a checkpoint of their own.
BLOCK_DROP_CASES = {
    "near_dup_pairs": ("_near_dup_pairs_shared", queries._near_dup_pairs_shared),
    "components": ("_components_shared", queries._components_shared),
    "simhash_pairs": ("_simhash_pairs_shared", queries._simhash_pairs_shared),
    **{
        f"ivf_scored_{kind}": (
            "_ivf_scored_shared",
            partial(queries._ivf_scored_shared, trained=kind == "trained"),
        )
        for kind in ("plain", "trained")
    },
    **{
        f"ann_topk_{m}": (
            "_topk_method_shared",
            partial(queries._topk_method_shared, method=m),
        )
        for m in ("exact", "int8", "lsh", "ivf", "ivf_trained")
    },
    "ann_truth": ("_ann_truth_shared", queries._ann_truth_shared),
    **{
        f"part_pairs_{w}": (
            "_part_pairs_shared",
            partial(queries._part_pairs_shared, which=w),
        )
        for w in ("single", "multi")
    },
    "corpus_index": ("_corpus_index_shared", queries._corpus_index_shared),
    "emb_index": ("_emb_index_shared", _emb_index),
    "span_index": ("_span_index_shared", queries._span_index_shared),
    "semdedup_survivors": (None, queries.q_semdedup_survivors),
    "incremental_near_dup_stream": (
        None,
        queries.q_incremental_near_dup_stream,
    ),
}


def test_block_drop_cases_cover_every_dataframe_stage():
    """A new DataFrame-valued ``_*_shared`` helper needs a case above."""
    scalar ={"_doc_count_shared", "_trained_centroids_shared"}
    covered = {helper for helper, _ in BLOCK_DROP_CASES.values()}
    assert set(queries._SHARED_STAGE_HELPERS) - scalar <= covered


@pytest.mark.parametrize("case", sorted(BLOCK_DROP_CASES))
def test_shared_stage_survives_block_drop(spark, sf_dir, case):
    """A stored stage stays readable after every persisted block in the
    session is dropped, as after a lost executor: it is re-read from
    its checkpoint files, never lost (a localCheckpoint fails here)."""
    _, build = BLOCK_DROP_CASES[case]
    df = build(spark, sf_dir)
    n = df.count()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    assert df.count() == n


def test_part_match_candidates_no_single_partition(spark, sf_dir):
    """The linkage self-join must stay block-local — no global funnel
    and no cartesian product anywhere in the plan."""
    plan = _plan(spark, "part_match_candidates", sf_dir)
    assert "SinglePartition" not in plan
    assert "Cartesian" not in plan


def test_part_match_multikey_plan_shape(spark, sf_dir):
    """The multi-pass union stays block-local too, and the Levenshtein
    bill is paid at the NAME level: the distance expression must sit
    above the distinct-name self-join, never above a row-expanded
    relation (one levenshtein call per pass in the plan, and no
    cartesian/global funnel)."""
    plan = _plan(spark, "part_match_multikey", sf_dir)
    assert "SinglePartition" not in plan
    assert "Cartesian" not in plan
    # two passes, each surfacing the distance expression in its
    # Filter+Project pair -> 4 levenshtein sites; more would mean the
    # scorer leaked into the expansion joins (the formatted plan can't
    # textually pin WHICH relation feeds the expression — the sf1 wall
    # in BENCH_NOTES is the behavioral pin for name-level scoring)
    assert 2 <= plan.lower().count("levenshtein") <= 4


def test_bm25_broadcasts_query_terms_and_stats(spark, sf_dir):
    """The 5-term query side and the 1-row stats both ride broadcasts;
    the only corpus-wide shuffles are the tf/df hash aggregates."""
    plan = _plan(spark, "bm25_scores", sf_dir)
    assert _nodes(plan, "BroadcastExchange") >= 2
    assert "SortMergeJoin" not in plan
    assert "PythonUDF" not in plan


def test_temperature_mixture_is_two_aggregates_and_broadcast(spark, sf_dir):
    plan = _plan(spark, "temperature_mixture", sf_dir)
    assert "BroadcastExchange" in plan  # 1-row total
    assert "PythonUDF" not in plan


def test_event_key_skew_single_corpus_aggregate(spark, sf_dir):
    """Exactly one corpus-wide shuffle (the per-key count); the heavy-
    hitter top-k is a TakeOrdered on the keys relation, never a global
    sort of raw events."""
    plan = _plan(spark, "event_key_skew", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "PythonUDF" not in plan


def _ancestors(plan, node_id):
    """Operator names above node ``node_id`` in a formatted plan's
    tree, nearest first (a parent is the nearest earlier line indented
    less than its child)."""
    tree = plan.split("\n\n")[0].splitlines()[1:]
    rows = [(len(l) - len(l.lstrip(" +-:")), l.lstrip(" +-:")) for l in tree]
    at = next(i for i, (_, n) in enumerate(rows) if n.endswith(f"({node_id})"))
    out, depth = [], rows[at][0]
    for d, name in reversed(rows[:at]):
        if d < depth:
            out.append(name)
            depth = d
    return out


def test_incremental_probe_broadcasts_the_batch(spark, sf_dir, tmp_path):
    """The probe over a store-loaded index: ONE BroadcastExchange (the
    batch's band keys) into a LeftSemi join over the index scan, so the
    index never shuffles — the first operator above its scan that is
    not a row-local Filter/Project is that join, never an Exchange —
    and no cartesian or sort-merge join anywhere."""
    from genai_batch_processor_spark.sources import index_store

    docs = _docs(spark, sf_dir)
    path = str(tmp_path / "band_index")
    index_store.save_minhash_index(
        dedup.minhash_index(docs, "doc_id", "text"), path
    )
    batch = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + queries.INC_DEDUP_OFFSET).alias("doc_id"), "text"
    )
    df = dedup.incremental_near_dup_pairs(
        index_store.load_minhash_index(spark, path), batch, "doc_id", "text"
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Cartesian" not in plan and "SortMergeJoin" not in plan
    assert _nodes(plan, "BroadcastExchange") == 1
    scans = re.findall(
        r"\((\d+)\) Scan parquet[^\n]*\n(?:[^\n]+\n)*?Location: [^\n]*band_index",
        plan,
    )
    assert len(scans) == 1, "the index must be scanned once"
    above = [
        n
        for n in _ancestors(plan, scans[0])
        if not n.startswith(("Filter", "Project", "ColumnarToRow"))
    ]
    assert above[0].startswith("BroadcastHashJoin LeftSemi"), above


def test_embedding_probe_broadcasts_batch_index_unshuffled(
    spark, sf_dir, tmp_path
):
    """The ANN-ingest probe over a store-loaded cell index, in the band
    probe's shape: ONE BroadcastExchange (the batch's cells) into a
    LeftSemi join over the index scan, so the index never shuffles —
    the first operator above its scan that is not a row-local
    Filter/Project is that join — and no cartesian, sort-merge or full
    outer join anywhere."""
    from genai_batch_processor_spark.sources import index_store

    emb = queries.load_table(spark, sf_dir, "embeddings")
    cents = queries._trained_centroids_shared(spark, sf_dir)
    path = str(tmp_path / "cell_index")
    index_store.save_embedding_index(
        similarity.embedding_cell_index(emb, cents), cents, path
    )
    batch = emb.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + queries.INC_DEDUP_OFFSET).alias("vec_id"),
        "embedding",
    )
    df = similarity.incremental_embedding_pairs(
        index_store.load_embedding_index(spark, path, cents),
        batch,
        cents,
        max_cell=queries.SEMDEDUP_MAX_CELL,
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    for bad in ("Cartesian", "SortMergeJoin", "FullOuter"):
        assert bad not in plan, bad
    assert _nodes(plan, "BroadcastExchange") == 1
    scans = re.findall(
        r"\((\d+)\) Scan parquet[^\n]*\n(?:[^\n]+\n)*?Location: [^\n]*cell_index",
        plan,
    )
    assert len(scans) == 1, "the index must be scanned once"
    above = [
        n
        for n in _ancestors(plan, scans[0])
        if not n.startswith(("Filter", "Project", "ColumnarToRow"))
    ]
    assert above[0].startswith("BroadcastHashJoin LeftSemi"), above


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir, tmp_path):
    """Round-5 verdict item 6: on a genuinely skewed join (40% of
    events remapped to ONE user), Spark's AQE skew handling must
    actually SPLIT the hot partition — the final adaptive plan carries
    the skew=true join annotation — while the plain run (skew split
    off) must not, and both must agree with the manual salted remedy
    on the result. Thresholds are scaled to the fixture's shuffle
    bytes, as a real deployment scales them to its own."""
    from genai_batch_processor_spark.operators import skew
    from genai_batch_processor_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    dim = skew.build_skew_demo_dim(
        spark, events, str(tmp_path / "dim")
    )
    # sized for the sf0.001 fixture's ~KB-scale hot partition; the
    # minPartitionSize entry matters — the split target clamps to it
    test_conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "1024",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "512",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    plain = skew.run_skew_demo(spark, events, "plain", dim=dim)
    aqe = skew.run_skew_demo(
        spark, events, "aqe", demo_conf=test_conf, dim=dim
    )
    salted = skew.run_skew_demo(spark, events, "salted", dim=dim)
    assert aqe["skew_marker"], "AQE run did not split the skewed partition"
    assert not plain["skew_marker"]
    assert plain["rows"] == aqe["rows"] == salted["rows"] > 0
    # exact per-group (count, weighted-sum) agreement: catches a salt
    # fanout duplicating rows or a dropped hot key, which the bare
    # 5-group row count cannot
    assert plain["groups"] == aqe["groups"] == salted["groups"]


def test_count_prunes_project_only_python_work(spark, sf_dir):
    """The count-pruning hazard behind scale_check.FORCE_MATERIALIZE
    (r11): for a Project-only query, Catalyst prunes the per-row work —
    including the Arrow-batched BPE UDF — under .count(), so a
    count-timed leg measures a bare scan. Pin both halves: the query's
    own plan carries ArrowEvalPython; its count plan does not."""
    df = queries.QUERIES["bpe_token_counts"](spark, sf_dir)
    full = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" in full
    cnt = spark._jvm.PythonSQLUtils.explainString(
        df.groupBy().count()._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" not in cnt
    # and the tool routes the query through the noop-sink path
    from tools.scale_check import FORCE_MATERIALIZE

    assert "bpe_token_counts" in FORCE_MATERIALIZE


def test_bloom_decontamination_probe_before_join(spark, sf_dir):
    """decontaminate_bloom's shape (r13): the Bloom probe (element_at
    bit tests on the packed-long bitmap literal) must sit in a plain
    Filter on the corpus side — i.e. BELOW the residual exact join, so
    at scale ~98% of corpus shingles never reach the join — and the
    whole pipeline stays JVM-side with the bench shingle set broadcast."""
    plan = _plan(spark, "decontaminate_bloom", sf_dir)
    assert "element_at" in plan, "Bloom probe missing from the plan"
    assert "BroadcastHashJoin" in plan, "bench shingles must broadcast"
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"Bloom path dropped into Python: {marker}"
    # the probe filter must be UPSTREAM of the join: formatted plans
    # number nodes bottom-up (Scan (1) ... root last), so the Filter
    # node carrying the element_at condition needs a SMALLER id than
    # the join's
    import re

    sections = re.findall(
        r"\((\d+)\) (\w+)[^\n]*\n(.*?)(?=\n\(\d+\) |\Z)", plan, re.S
    )
    probe_ids = [
        int(nid)
        for nid, name, body in sections
        if name == "Filter" and "element_at" in body
    ]
    join_ids = [
        int(nid) for nid, name, _ in sections if "BroadcastHashJoin" in name
    ]
    assert probe_ids and join_ids
    assert min(probe_ids) < min(join_ids)


def test_heavy_hitters_one_sketch_pass_and_broadcast_recount(spark, sf_dir):
    """heavy_hitter_tokens' shape (r13): exactly TWO Python stages (the
    MG candidate pass over each of the recount scan and the distinct)
    would be wrong — the sketch runs once; the exact recount must reach
    the corpus via a BROADCAST left-semi join on the (tiny) candidate
    relation, so the full vocabulary never shuffles."""
    plan = _plan(spark, "heavy_hitter_tokens", sf_dir)
    import re

    # each node prints twice (tree + detail); count detail sections
    mg_nodes = re.findall(r"\(\d+\) MapInPandas", plan)
    assert len(mg_nodes) == 1, "MG candidate pass must run once"
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


def test_grouped_heavy_hitters_one_sketch_pass_and_broadcasts(spark, sf_dir):
    """lang_heavy_hitters (r13): same contract as the ungrouped shape —
    ONE MapInPandas node (per-group MG states live INSIDE the single
    pass, not one pass per group) and broadcast joins for both the
    candidate semi-join and the per-group totals."""
    plan = _plan(spark, "lang_heavy_hitters", sf_dir)
    import re

    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    assert "LeftSemi" in plan
    assert _nodes(plan, "BroadcastExchange") >= 2  # candidates + totals


def test_incremental_near_dup_pairs_leaves_no_cache_entry(spark, sf_dir):
    """Without a caller-owned ``batch_index`` the probe materializes the
    batch band index itself; repeated calls must leave no session cache
    entry behind (a persisted copy nobody unpersists)."""
    docs = _docs(spark, sf_dir)
    index = dedup.minhash_index(
        docs.filter(F.col("doc_id") % 10 != 3), "doc_id", "text"
    )
    batch = docs.filter(F.col("doc_id") % 10 == 3)
    cache = spark._jsparkSession.sharedState().cacheManager()
    entries = cache.getClass().getDeclaredField("cachedData")
    entries.setAccessible(True)
    before = entries.get(cache).size()
    for _ in range(2):
        assert dedup.incremental_near_dup_pairs(
            index, batch, "doc_id", "text"
        ).count() > 0
    assert entries.get(cache).size() == before
