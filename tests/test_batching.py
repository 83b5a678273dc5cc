"""Unit tests for submit-side batching operators (operators/batching.py).

Parity with the DuckDB oracles is covered by tests/test_parity.py; these
pin the operator CONTRACTS: cap guarantees of the shard planner, the
exactness of the bucket-parallel prefix sum, determinism and density of
the training order, and the dedup-sandwich invariants.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from genai_batch_processor_spark.functions import ids
from genai_batch_processor_spark.operators import batching, requests
from genai_batch_processor_spark.sources.tables import load_table


def _sized_docs(spark, sf_dir):
    docs = ids.assign_ids(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.withColumn("n_bytes", F.octet_length("text").cast("long"))


def _n_ordinal_buckets(df):
    bucket = batching._ordinal_bucket(df, "idx")
    return df.select(bucket.alias("b")).distinct().count()


def test_exclusive_prefix_sum_matches_pandas(spark, sf_dir):
    sized = _sized_docs(spark, sf_dir)
    assert _n_ordinal_buckets(sized) >= 2
    got = (
        batching.exclusive_prefix_sums(
            sized, order_col="idx", cols=[("n_bytes", "cum")]
        )
        .select("idx", "n_bytes", "cum")
        .toPandas()
        .sort_values("idx")
        .reset_index(drop=True)
    )
    expect = got["n_bytes"].cumsum().shift(1, fill_value=0)
    assert (got["cum"] == expect).all()


def test_plan_shards_honors_both_caps(spark, sf_dir):
    max_lines, max_bytes = 40, 16_384
    sized = _sized_docs(spark, sf_dir)
    assert _n_ordinal_buckets(sized) >= 2
    planned = batching.plan_shards(
        sized,
        id_col="idx",
        bytes_col="n_bytes",
        max_lines=max_lines,
        max_bytes=max_bytes,
    )
    per_shard = (
        planned.groupBy("shard_key")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_bytes").alias("bytes"),
            F.max("n_bytes").alias("max_row"),
        )
        .collect()
    )
    assert len(per_shard) > 1, "caps did not bind at fixture scale"
    for r in per_shard:
        assert r["n"] <= max_lines
        # STRICT cap: the floor budget is shrunk by the largest row, so
        # no shard may exceed the provider's hard limit
        assert r["bytes"] <= max_bytes


def test_plan_shards_rows_stay_contiguous(spark, sf_dir):
    """Shard membership follows id order: each shard is one contiguous
    id run (what a sequential JSONL writer would produce)."""
    planned = batching.plan_shards(
        _sized_docs(spark, sf_dir),
        id_col="idx",
        bytes_col="n_bytes",
        max_lines=40,
        max_bytes=16_384,
    )
    spans = (
        planned.groupBy("shard_key")
        .agg(
            F.min("idx").alias("lo"),
            F.max("idx").alias("hi"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    for r in spans:
        assert r["hi"] - r["lo"] + 1 == r["n"], "shard has id gaps"


def test_training_order_is_dense_and_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = batching.training_order(docs, "doc_id", seed="epoch-0", n_shards=8)
    b = batching.training_order(docs, "doc_id", seed="epoch-0", n_shards=8)
    pa = a.select("doc_id", "shard", "pos").toPandas()
    pb = b.select("doc_id", "shard", "pos").toPandas()
    key = lambda p: p.sort_values("doc_id").reset_index(drop=True)
    assert key(pa).equals(key(pb)), "same seed must reproduce exactly"
    for _, grp in pa.groupby("shard"):
        assert sorted(grp["pos"]) == list(range(len(grp))), "pos not dense"


def test_training_order_seed_reshuffles(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = batching.training_order(docs, "doc_id", seed="epoch-0")
    b = batching.training_order(docs, "doc_id", seed="epoch-1")
    merged = (
        a.select("doc_id", F.col("shard").alias("s0"), F.col("pos").alias("p0"))
        .join(b.select("doc_id", "shard", "pos"), "doc_id")
    )
    moved = merged.filter(
        (F.col("s0") != F.col("shard")) | (F.col("p0") != F.col("pos"))
    ).count()
    assert moved > 0, "changing the seed must change the order"


def test_prompt_dedup_sandwich_invariants(spark, sf_dir):
    docs = ids.assign_ids(load_table(spark, sf_dir, "documents"), "doc_id")
    docs = docs.withColumn(
        "prompt",
        requests.classification_prompt("text", ("a", "b")),
    ).persist()
    groups = batching.prompt_groups(docs, "prompt", "idx")
    reps = batching.representatives(docs, "prompt", "idx")
    n_distinct = docs.select("prompt").distinct().count()
    assert groups.count() == n_distinct
    assert reps.count() == n_distinct
    # multiplicities must re-add to the input size
    total = groups.agg(F.sum("n_rows")).first()[0]
    assert total == docs.count()
    # fan-out restores one row per original id, keyed by representative
    mapping = docs.select("idx", "prompt").join(
        groups.select("prompt", "rep_idx"), "prompt"
    )
    resp = reps.select(
        F.col("idx").alias("rep_idx"), F.col("prompt").alias("rep_prompt")
    )
    fanned = batching.fan_out_responses(
        resp, mapping, rep_col="rep_idx", id_col="idx"
    )
    assert fanned.count() == docs.count()
    # a representative answers for its group ⇒ every fanned row carries
    # a prompt identical to its own (groups are exact-match)
    assert fanned.filter(F.col("prompt") != F.col("rep_prompt")).count() == 0
    docs.unpersist()


def test_plan_shards_rejects_row_bigger_than_cap(spark):
    import pytest

    df = spark.createDataFrame(
        [(0, 10), (1, 5000)], "idx long, n_bytes long"
    )
    with pytest.raises(ValueError, match="cannot fit"):
        batching.plan_shards(
            df, id_col="idx", bytes_col="n_bytes",
            max_lines=10, max_bytes=4000,
        )


def test_assign_ids_null_keys_match_single_window(spark):
    """NULL order keys must receive the same ordinals on the bucketed
    path as on the single-window fallback (nulls first)."""
    rows = [(i, None if i % 7 == 0 else f"k{i:03d}") for i in range(60)]
    df = spark.createDataFrame(rows, "rid long, key string")
    proxy = ids._order_proxy("key", df.schema["key"].dataType)
    fine = ids._scale_free_bucket(proxy)
    assert df.select(fine.alias("b")).distinct().count() >= 2
    bucketed = ids.assign_ids(df, "key")
    fallback = df.withColumn(
        "idx", F.row_number().over(Window.orderBy("key")) - 1
    )
    got = {r["rid"]: r["idx"] for r in bucketed.collect()}
    want = {r["rid"]: r["idx"] for r in fallback.collect()}
    # null-key rows form the FIRST ordinal block on both paths
    null_rids = {rid for rid, key in rows if key is None}
    n_nulls = len(null_rids)
    assert {rid for rid, i in got.items() if i < n_nulls} == null_rids
    # non-null ordinals agree exactly (nulls are order-tied among
    # themselves, so only their block membership is contractual)
    for rid, key in rows:
        if key is not None:
            assert got[rid] == want[rid]


def test_plan_shards_token_budget_caps(spark, sf_dir):
    """r12 verdict item 2: with a token budget, every shard honors the
    line cap, the byte cap, AND the token cap strictly, and shard
    membership stays contiguous in id order."""
    from genai_batch_processor_spark.functions import bpe as bpefn

    max_lines, max_bytes, max_tokens = 30, 16_384, 6_000
    sized = _sized_docs(spark, sf_dir).withColumn(
        "n_tokens", bpefn.token_count_bpe("text")
    )
    assert _n_ordinal_buckets(sized) >= 2
    planned = batching.plan_shards(
        sized,
        id_col="idx",
        bytes_col="n_bytes",
        max_lines=max_lines,
        max_bytes=max_bytes,
        tokens_col="n_tokens",
        max_tokens=max_tokens,
    )
    per_shard = (
        planned.groupBy("shard_key")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_bytes").alias("bytes"),
            F.sum("n_tokens").alias("tokens"),
            F.min("idx").alias("lo"),
            F.max("idx").alias("hi"),
        )
        .collect()
    )
    assert len(per_shard) > 1, "caps did not bind at fixture scale"
    for r in per_shard:
        assert r["n"] <= max_lines
        assert r["bytes"] <= max_bytes
        assert r["tokens"] <= max_tokens, "strict token cap violated"
        assert r["hi"] - r["lo"] + 1 == r["n"], "shard has id gaps"
    # binding evidence at the TOKEN-shard level (the line cap splits
    # each token shard before it fills, so per-file totals sit lower):
    # several token shards exist and at least one packs close to the
    # budget — i.e. the token dimension, not just bytes/lines, shaped
    # the plan.
    per_tok = (
        planned.groupBy("byte_shard", "token_shard")
        .agg(F.sum("n_tokens").alias("tokens"))
        .collect()
    )
    assert len(per_tok) > 1, "token cap never produced a boundary"
    assert max(r["tokens"] for r in per_tok) > max_tokens - 1_000
    for r in per_tok:
        assert r["tokens"] <= max_tokens


def test_plan_shards_token_arg_validation(spark):
    import pytest

    df = spark.createDataFrame(
        [(0, 10, 5)], "idx long, n_bytes long, n_tokens long"
    )
    with pytest.raises(ValueError, match="go together"):
        batching.plan_shards(df, tokens_col="n_tokens")
    with pytest.raises(ValueError, match="token"):
        batching.plan_shards(
            df, tokens_col="n_tokens", max_tokens=5
        )  # a 5-token row cannot fit under a 5-token cap


def test_exclusive_prefix_sums_multi_column(spark, sf_dir):
    """The fused multi-column prefix sum must equal two independent
    single-column passes."""
    sized = _sized_docs(spark, sf_dir).withColumn(
        "n2", (F.col("n_bytes") % 7).cast("long")
    )
    assert _n_ordinal_buckets(sized) >= 2
    fused = batching.exclusive_prefix_sums(
        sized,
        order_col="idx",
        cols=[("n_bytes", "c1"), ("n2", "c2")],
    )
    got = fused.select("idx", "n_bytes", "n2", "c1", "c2").toPandas()
    got = got.sort_values("idx").reset_index(drop=True)
    assert (got["c1"] == got["n_bytes"].cumsum().shift(1, fill_value=0)).all()
    assert (got["c2"] == got["n2"].cumsum().shift(1, fill_value=0)).all()
