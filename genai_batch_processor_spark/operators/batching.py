"""Submit-side batching operators: prompt dedup, shard planning, training order.

Domain rationale: the reference serializes the WHOLE input into one
JSONL file and submits it as one batch job
(``openai_batch_processor.py:127-161``, ``vertex_ai_batch_processor.py:
126-133``). That works for its example-sized inputs; at 100 TB three
things become first-class relational problems:

1. **Duplicate prompts waste paid tokens.** Batch APIs bill per request;
   a corpus with a 20% duplicate rate pays 20% extra for identical
   answers. ``prompt_groups`` collapses the submit set to one
   representative per distinct prompt key; ``BatchPipeline.run``
   (``dedupe_prompts=True``) restores per-row results inside its
   join-back on the representative id. ``fan_out_responses`` is the
   standalone expansion, used by the ``prompt_dedup_fanout`` query.
2. **Providers cap batch files AND queued tokens** (the public OpenAI
   Batch limits are 50,000 requests / 200 MB per file, plus a
   per-model cap on ENQUEUED PROMPT TOKENS across the batch queue — a
   line/byte-legal file can still be token-illegal to enqueue).
   ``plan_shards`` assigns every row a shard honoring all caps, using
   bucket-parallel exclusive prefix sums over the request-byte (and
   optionally request-token) columns — no single-reducer window (the
   per-bucket offsets come from ``functions.ids._bucket_offsets``, as
   in ``assign_ids``). With a token budget, each shard's total is
   ≤ ``max_tokens``, so an orchestrator controls enqueued tokens by
   bounding in-flight shards.
3. **Training consumption needs a deterministic global shuffle.**
   ``training_order`` derives (shard, position) from a portable hash of
   (seed, key): reproducible on any engine, re-runnable without RNG
   state, and embarrassingly parallel (the only window is partitioned
   by shard).

All three are pure DataFrame transformations; every hash is the
portable md5 family (functions/hashing.py) so each operator has an
exact DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from genai_batch_processor_spark.functions import hashing, ids

# Public OpenAI Batch API file caps (requests per file / bytes per file).
OPENAI_MAX_LINES = 50_000
OPENAI_MAX_BYTES = 200 * 1024 * 1024


# -- 1. prompt dedup around the provider boundary ----------------------------


def prompt_groups(
    df: DataFrame, key_col: str, id_col: str = "idx"
) -> DataFrame:
    """One row per distinct prompt key: the smallest id in the group is
    the representative (the request actually submitted), ``n_rows`` its
    multiplicity. Single hash-aggregate — one shuffle on the prompt key,
    map-side partials do the heavy lifting on a duplicate-skewed corpus.
    """
    return df.groupBy(key_col).agg(
        F.min(id_col).cast("long").alias("rep_" + id_col),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


def representatives(
    df: DataFrame, key_col: str, id_col: str = "idx"
) -> DataFrame:
    """The deduplicated submit set: original rows filtered to the group
    representatives. Implemented as a semi join on (key, id) — the
    groups side is the distinct relation, usually far smaller than the
    input, and broadcast-eligible when the duplicate rate is high."""
    groups = prompt_groups(df, key_col, id_col).select(
        F.col(key_col), F.col("rep_" + id_col).alias(id_col)
    )
    return df.join(groups, [key_col, id_col], "left_semi")


def fan_out_responses(
    responses: DataFrame,
    mapping: DataFrame,
    *,
    rep_col: str,
    id_col: str = "idx",
) -> DataFrame:
    """Expand representative-level responses back to every original row.

    ``mapping`` is (id_col, rep_col) — each original id paired with its
    group representative (build it by joining the input to
    :func:`prompt_groups` on the prompt key). One equi-join on the
    representative id; the responses side has one row per DISTINCT
    prompt, so it is the small side and broadcast-eligible."""
    return mapping.join(responses, rep_col, "left")


# -- 2. capped shard planning (bucket-parallel prefix sum) -------------------


def _ordinal_bucket(df: DataFrame, order_col: str) -> Column:
    """Equal-width bucket of a dense 0-based ordinal: ``[0, max]`` cut
    into 2 × ``defaultParallelism`` ranges, found with one ``max()``
    job. Equal WIDTH on purpose: on a dense ordinal every bucket holds
    the same row count, so the prefix-sum window scales with the
    cluster (the log-scale ``assign_ids`` bucket tops out at ~64
    useful tasks on dense keys)."""
    buckets = df.sparkSession.sparkContext.defaultParallelism * 2
    n = df.agg(F.max(order_col)).first()[0] or 0
    span = max(1, (int(n) + buckets) // buckets)
    return (F.col(order_col) / F.lit(span)).cast("long")


def exclusive_prefix_sums(
    df: DataFrame,
    *,
    order_col: str,
    cols: list[tuple[str, str]],
) -> DataFrame:
    """Running totals of several value columns over ``order_col``
    order, EXCLUSIVE of the current row, without an unpartitioned
    window. ``cols`` is ``[(value_col, out_col), ...]``.

    ``order_col`` must be a dense 0-based ordinal (assign_ids output).
    One bucket assignment (:func:`_ordinal_bucket`), one per-bucket
    totals job for every column together
    (:func:`functions.ids._bucket_offsets`) and one shared per-bucket
    window, so parallelism is the bucket count, not 1, and a planner
    capping on bytes AND tokens pays one prefix-sum pass, not two."""
    bucketed = df.withColumn("__psb", _ordinal_bucket(df, order_col))
    offsets = ids._bucket_offsets(
        bucketed,
        "__psb",
        [F.sum(vc).cast("long") for vc, _ in cols],
    )
    w = (
        Window.partitionBy("__psb")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = bucketed
    for (vc, out_col), offset in zip(cols, offsets):
        local = F.coalesce(F.sum(vc).over(w).cast("long"), F.lit(0))
        out = out.withColumn(out_col, local + offset)
    return out.drop("__psb")


def plan_shards(
    df: DataFrame,
    *,
    id_col: str = "idx",
    bytes_col: str = "n_bytes",
    max_lines: int = OPENAI_MAX_LINES,
    max_bytes: int = OPENAI_MAX_BYTES,
    tokens_col: str | None = None,
    max_tokens: int | None = None,
) -> DataFrame:
    """Assign every row a (byte_shard[, token_shard], line_shard,
    shard_key) honoring every provider cap STRICTLY, in input-id order.

    ``byte_shard`` = floor(exclusive-prefix-bytes / budget) where
    ``budget = max_bytes - max_row_bytes``: prefix-floor packing puts
    the row straddling each boundary in the EARLIER shard, so a shard
    packed against the raw cap would overflow by up to one row — fatal
    when max_bytes is the provider's hard file limit. Shrinking the
    floor budget by the largest observed row absorbs that overhang, so
    every shard's total is ≤ max_bytes, guaranteed. A single row larger
    than half the cap shrinks the budget materially (shards get
    smaller, never larger than the cap); a row that cannot fit under
    the cap at all is an error — the provider would reject its file.

    ``tokens_col``/``max_tokens`` (r12 verdict item 2) add the SAME
    strict-cap construction over a per-row token count (e.g.
    ``functions.bpe.token_count_bpe`` over the prompt text): OpenAI
    batch queues are also capped in enqueued prompt TOKENS per model,
    so a line/byte-legal file can still be token-illegal to enqueue.
    ``token_shard`` = floor(exclusive-prefix-tokens / token budget);
    a shard is then a maximal run with BOTH floors constant — both
    floors are nondecreasing in id order, so runs stay contiguous, and
    each run's byte and token totals are ≤ their caps by the same
    budget-shrinking argument applied per dimension. Both prefix sums
    share one bucket pass (:func:`exclusive_prefix_sums`). An
    orchestrator holding at most Q/max_tokens shards in flight then
    never exceeds a queue-wide quota Q.

    ``line_shard`` splits each (byte[, token]) shard into runs of at
    most ``max_lines`` rows via a window PARTITIONED by those shards —
    each is cap-bounded, so no partition is unbounded. ``shard_key``
    is the stable file label the JSONL sink shards by.
    """
    if (tokens_col is None) != (max_tokens is None):
        raise ValueError(
            "plan_shards: tokens_col and max_tokens go together"
        )
    maxes = [F.max(bytes_col)]
    if tokens_col is not None:
        maxes.append(F.max(tokens_col))
    max_rows = df.agg(*maxes).first()
    max_row = max_rows[0]
    if max_row is None:
        max_row = 0
    if max_row >= max_bytes:
        raise ValueError(
            f"plan_shards: a {max_row}-byte row cannot fit under the "
            f"{max_bytes}-byte shard cap"
        )
    budget = max(1, max_bytes - int(max_row))
    sums = [(bytes_col, "__cum_bytes")]
    if tokens_col is not None:
        max_row_tok = max_rows[1] or 0
        if max_row_tok >= max_tokens:
            raise ValueError(
                f"plan_shards: a {max_row_tok}-token row cannot fit "
                f"under the {max_tokens}-token shard cap"
            )
        tok_budget = max(1, max_tokens - int(max_row_tok))
        sums.append((tokens_col, "__cum_toks"))
    with_cum = exclusive_prefix_sums(df, order_col=id_col, cols=sums)
    byte_shard = (F.col("__cum_bytes") / F.lit(budget)).cast("long")
    with_bs = with_cum.withColumn("byte_shard", byte_shard)
    shard_cols = ["byte_shard"]
    if tokens_col is not None:
        with_bs = with_bs.withColumn(
            "token_shard",
            (F.col("__cum_toks") / F.lit(tok_budget)).cast("long"),
        )
        shard_cols.append("token_shard")
    w = Window.partitionBy(*shard_cols).orderBy(id_col)
    line_shard = ((F.row_number().over(w) - 1) / F.lit(max_lines)).cast(
        "long"
    )
    key = (
        F.format_string("shard-%05d-%03d", "byte_shard", "line_shard")
        if tokens_col is None
        else F.format_string(
            "shard-%05d-%05d-%03d",
            "byte_shard",
            "token_shard",
            "line_shard",
        )
    )
    return (
        with_bs.withColumn("line_shard", line_shard)
        .withColumn("shard_key", key)
        .drop("__cum_bytes", "__cum_toks")
    )


# -- 3. deterministic training-order shuffle ---------------------------------


def shuffle_coord(key: Column | str, seed: str) -> Column:
    """Portable 60-bit shuffle coordinate for (seed, key) — changing the
    seed reshuffles, same seed reproduces bit-for-bit on any engine."""
    c = F.col(key) if isinstance(key, str) else key
    return hashing.portable_hash60(
        F.concat(F.lit(seed + ":"), c.cast("string"))
    )


def training_order(
    df: DataFrame,
    key_col: str,
    *,
    seed: str = "epoch-0",
    n_shards: int = 8,
) -> DataFrame:
    """Global pseudo-random training order as data: ``shard`` =
    coordinate mod n_shards, ``pos`` = rank within the shard by
    (coordinate, key). A reader streaming shards in pos order consumes
    the corpus in a uniform shuffled order with NO global sort — the
    only window is partitioned by shard (parallelism = n_shards; raise
    n_shards with cluster size). Ties on the coordinate are broken by
    the key itself, so the order is total and reproducible."""
    coord = shuffle_coord(key_col, seed)
    out = df.withColumn("__coord", coord).withColumn(
        "shard", F.pmod(F.col("__coord"), F.lit(n_shards)).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("__coord", key_col)
    return out.withColumn(
        "pos", (F.row_number().over(w) - 1).cast("long")
    ).drop("__coord")


def sql_shuffle_coord(expr: str, seed: str) -> str:
    """DuckDB twin of :func:`shuffle_coord`."""
    return hashing.sql_hash60(f"('{seed}:' || CAST({expr} AS VARCHAR))")
