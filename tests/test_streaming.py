"""Streaming tests: the availableNow stream must reproduce the batch
twins exactly, and stateful state must survive across micro-batches."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from genai_batch_processor_spark import queries
from genai_batch_processor_spark.sources.tables import load_table
from genai_batch_processor_spark.streaming import windows as sw


def _split_events_dir(spark, sf_dir, out_dir: str, n_splits: int = 2) -> None:
    """Copy the events fixture into n parquet files (one per micro-batch
    with maxFilesPerTrigger=1), split by event_id modulo."""
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    for i in range(n_splits):
        raw.filter(F.col("event_id") % n_splits == i).coalesce(1).write.mode(
            "append"
        ).parquet(out_dir)


def test_streaming_hourly_matches_batch(spark, sf_dir, tmp_path):
    stream_dir = str(tmp_path / "ev_stream")
    _split_events_dir(spark, sf_dir, stream_dir)
    stream = sw.stream_events(spark, stream_dir)
    agg = sw.hourly_counts(stream)
    sw.run_to_memory(agg, "hourly_mem", "complete", str(tmp_path / "ckpt1"))
    got = {
        (r.hour, r.event_type): (r.n, r.total_value)
        for r in spark.table("hourly_mem").collect()
    }
    want = {
        (r.hour, r.event_type): (r.n, r.total_value)
        for r in queries.q_events_hourly(spark, sf_dir).collect()
    }
    assert got == want


def test_stateful_user_stats_across_microbatches(spark, sf_dir, tmp_path):
    stream_dir = str(tmp_path / "ev_stream2")
    _split_events_dir(spark, sf_dir, stream_dir, n_splits=3)
    stream = sw.stream_events(spark, stream_dir, max_files_per_trigger=1)
    stats = sw.user_stats_stream(stream)
    sw.run_to_memory(stats, "user_mem", "update", str(tmp_path / "ckpt2"))
    out = spark.table("user_mem").toPandas()
    # update mode emits one row per key per batch it appears in; the LAST
    # emission per user carries the accumulated totals
    final = out.groupby("user_id").last()
    ev = load_table(spark, sf_dir, "events")
    want = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    got = {uid: int(row["n_events"]) for uid, row in final.iterrows()}
    assert got == want
    # state crossed batches: users seen in >1 batch emitted >1 row
    multi = out.groupby("user_id").size()
    assert (multi > 1).any()
    shutil.rmtree(stream_dir, ignore_errors=True)


def test_foreach_batch_sink_idempotent_restart(spark, sf_dir, tmp_path):
    """run_to_parquet: the foreachBatch parquet sink must (a) reproduce
    the batch aggregation exactly, and (b) write NOTHING new when a
    finished availableNow run restarts from the same checkpoint —
    exactly-once end-to-end."""
    import os

    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")
    stream = sw.stream_events(spark, sf_dir, glob_filter="events.parquet")
    agg = sw.hourly_counts(stream)
    sw.run_to_parquet(agg, out, ckpt, output_mode="complete")

    def snapshot():
        files = []
        for root, _, names in os.walk(out):
            files += [
                os.path.join(root, n)
                for n in names
                if n.endswith(".parquet")
            ]
        return sorted(files)

    first = snapshot()
    # complete mode: each batch dir is a full snapshot — read the latest
    latest = max(
        (d for d in os.listdir(out) if d.startswith("batch=")),
        key=lambda d: int(d.split("=")[1]),
    )
    got = {
        (r.hour, r.event_type): (r.n, r.total_value)
        for r in spark.read.parquet(f"{out}/{latest}").collect()
    }
    want = {
        (r.hour, r.event_type): (r.n, r.total_value)
        for r in queries.q_events_hourly(spark, sf_dir).collect()
    }
    assert got == want

    # restart from the same checkpoint: no new batch dirs, same files
    stream2 = sw.stream_events(spark, sf_dir, glob_filter="events.parquet")
    sw.run_to_parquet(
        sw.hourly_counts(stream2), out, ckpt, output_mode="complete"
    )
    assert snapshot() == first


def _write_tick(df, stream_dir: str) -> None:
    """Drop one parquet file into the watched dir (one arrival tick)."""
    df.coalesce(1).write.mode("append").parquet(stream_dir)


def test_watermark_and_emissions_across_stream_restarts(
    spark, sf_dir, tmp_path
):
    """Files arriving across SEPARATE stream runs: each tick drops one
    file and drains availableNow from the SAME checkpoint. Pins that
    (a) the watermark persists across restarts — tick N's run closes
    and emits windows from tick N-1's data, (b) append mode emits every
    closed window exactly once ACROSS runs (no duplicate, no loss), and
    (c) the final union equals the batch answer for all closed windows.
    The single-drain tests above can't see any of this: they never
    restart from a populated checkpoint."""
    ev = load_table(spark, sf_dir, "events").orderBy("ts")
    days = sorted(
        r[0] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    assert len(days) >= 3, "fixture must span 3+ days"
    c1, c2 = days[len(days) // 3], days[2 * len(days) // 3]
    ticks = [
        ev.filter(F.to_date("ts") < F.lit(c1)),
        ev.filter((F.to_date("ts") >= F.lit(c1)) & (F.to_date("ts") < F.lit(c2))),
        ev.filter(F.to_date("ts") >= F.lit(c2)),
    ]
    assert all(t.count() > 0 for t in ticks)

    stream_dir = str(tmp_path / "ev_ticks")
    ckpt = str(tmp_path / "ckpt_ticks")
    emitted_per_tick: list[dict] = []
    for tick_df in ticks:
        _write_tick(tick_df, stream_dir)
        got: dict = {}

        def sink(df, eid, _got=got):
            for r in df.collect():
                key = (r.hour, r.event_type)
                assert key not in _got, f"duplicate emission {key}"
                _got[key] = (r.n, r.total_value)

        q = (
            sw.hourly_counts(sw.stream_events(spark, stream_dir))
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        emitted_per_tick.append(got)

    # (a) restart handoff: tick 2's run emits windows whose data arrived
    # in tick 1 (the watermark advanced past them only once tick 2's
    # events were seen) — proves watermark state survived the restart
    t1_hours = {
        r[0]
        for r in ticks[0]
        .select(F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"))
        .distinct()
        .collect()
    }
    tick2_emitted = set(emitted_per_tick[1])
    assert any(h in {k[0] for k in tick2_emitted} for h in t1_hours)

    # (b)+(c) exactly-once across runs, values = batch truth for every
    # window the final watermark closed
    union: dict = {}
    for gt in emitted_per_tick:
        dup = set(union) & set(gt)
        assert not dup, f"windows emitted twice across runs: {dup}"
        union.update(gt)
    batch = {
        (r.hour, r.event_type): (r.n, r.total_value)
        for r in queries.q_events_hourly(spark, sf_dir).collect()
    }
    for k in union:
        assert union[k] == batch[k], f"value mismatch for {k}"
    # bulk coverage: everything older than the final 2h watermark
    # horizon must have been emitted by SOME run (no silent loss);
    # windows at the tail may legitimately still be open
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime

    wm_floor = (max_ts - datetime.timedelta(hours=3)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    missing = {k for k in batch if k[0] < wm_floor and k not in union}
    assert not missing, f"closed windows never emitted: {sorted(missing)[:5]}"


def test_stateful_counts_survive_stream_restarts(spark, sf_dir, tmp_path):
    """applyInPandasWithState across RESTARTS: per-user running counts
    must accumulate over three separate availableNow runs from one
    checkpoint — the state store, not the in-memory session, carries
    the counts between runs."""
    ev = load_table(spark, sf_dir, "events")
    thirds = [
        ev.filter(F.col("event_id") % 3 == i) for i in range(3)
    ]
    stream_dir = str(tmp_path / "ev_state_ticks")
    ckpt = str(tmp_path / "ckpt_state_ticks")
    rows: list = []
    for tick_df in thirds:
        _write_tick(tick_df, stream_dir)
        stats = sw.user_stats_stream(sw.stream_events(spark, stream_dir))

        def sink(df, eid):
            rows.extend(df.collect())  # the memory sink can't recover
            # from a checkpoint; foreachBatch can

        with sw.stream_state_partitions(spark):
            q = (
                stats.writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    final: dict = {}
    for r in rows:  # update mode: last emission per user wins
        prev = final.get(r.user_id, -1)
        final[r.user_id] = max(prev, r.n_events)
    want = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert final == want


def test_watermark_semantics_on_late_batch(spark, sf_dir, tmp_path):
    """Pins Spark's ACTUAL watermark guarantee, which is one-directional:
    data within the watermark is aggregated exactly; data arriving
    after the watermark passed MAY still aggregate — the watermark
    bounds STATE, it is not a strict input filter. Concretely: a
    days-late micro-batch whose windows were never in state aggregates
    fresh and emits in the late batch (no silent loss), which is why
    append-mode consumers must merge by window key downstream (the
    complete-snapshot foreachBatch pattern sidesteps this entirely)."""
    import os

    stream_dir = str(tmp_path / "ev_late")
    os.makedirs(stream_dir)
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        F.date_add(F.min(F.to_date("ts")), 5).alias("c")
    ).collect()[0]["c"]
    old = ev.filter(F.to_date("ts") < F.lit(cutoff))
    new = ev.filter(F.to_date("ts") >= F.lit(cutoff))
    assert old.count() > 0 and new.count() > 0

    raw_long = lambda df: df.withColumn(  # noqa: E731
        "ts", F.unix_micros("ts") * 1000
    )
    raw_long(new).coalesce(1).write.mode("append").parquet(stream_dir)
    raw_long(old).coalesce(1).write.mode("append").parquet(stream_dir)
    new_count = new.count()
    for f in os.listdir(stream_dir):
        if not f.endswith(".parquet"):
            continue
        full = os.path.join(stream_dir, f)
        n = spark.read.parquet(full).count()
        t = 1_000_000_000 if n == new_count else 2_000_000_000
        os.utime(full, (t, t))  # new file replays first

    stream = sw.stream_events(spark, stream_dir, max_files_per_trigger=1)
    agg = sw.hourly_counts(stream)  # 2h watermark
    per_batch: dict[int, set] = {}

    def sink(df, eid):
        per_batch[eid] = {r.hour for r in df.select("hour").collect()}

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_l"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    old_hours = {
        r[0]
        for r in old.select(
            F.date_format(
                F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"
            )
        ).distinct().collect()
    }
    # batch 0 (watermark still at epoch): nothing closes, nothing emits
    assert per_batch[0] == set()
    # the late batch's windows emit THERE — late data is re-aggregated
    # after state eviction, never silently lost
    assert old_hours <= per_batch[1]


def test_response_ingest_joins_across_microbatches(spark, sf_dir, tmp_path):
    """Result shards arriving over multiple micro-batches must join
    back incrementally and, once drained, reproduce the batch joinback
    exactly (streaming/ingest.py)."""
    from genai_batch_processor_spark import queries as q
    from genai_batch_processor_spark.streaming import ingest

    piped = q._response_pipeline(spark, sf_dir)
    shard_dir = str(tmp_path / "resp_shards")
    (
        piped.select(F.col("response_line").alias("value"))
        .repartition(4)
        .write.mode("overwrite")
        .text(shard_dir)
    )
    stream = ingest.stream_response_lines(
        spark, shard_dir, max_files_per_trigger=1
    )
    joined = ingest.joinback_stream(
        stream, piped.select("idx", "doc_id", "lang")
    )
    query = (
        joined.writeStream.format("memory")
        .queryName("resp_ingest_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ingest"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    n_batches = sum(
        1 for p in query.recentProgress if p["numInputRows"] > 0
    )
    assert n_batches >= 2, "expected the shards to span micro-batches"

    got = spark.table("resp_ingest_mem").select(
        "doc_id", "lang", "status", "answer"
    )
    want = q.QUERIES["joinback"](spark, sf_dir)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_inference_equals_one_shot_run(spark, sf_dir, tmp_path):
    """Documents arriving across micro-batches and submitted per batch
    must produce EXACTLY the one-shot batch run's results — custom_ids
    derive from the natural key, so how the stream chops the corpus is
    invisible (streaming/submit.py)."""
    import os

    from genai_batch_processor_spark import OpenAIBatchPipeline
    from genai_batch_processor_spark.sources.tables import load_table
    from genai_batch_processor_spark.streaming import submit as ssub

    docs = load_table(spark, sf_dir, "documents").limit(60)
    # land the corpus as 3 separate files → 3 micro-batches at
    # maxFilesPerTrigger=1
    stream_dir = str(tmp_path / "doc_stream")
    docs.repartition(3).write.mode("overwrite").parquet(stream_dir)
    doc_stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )

    out = str(tmp_path / "out")
    work = str(tmp_path / "work")

    def make_pipeline(batch_df, epoch_id):
        wd = os.path.join(work, f"epoch={epoch_id}")
        os.makedirs(wd, exist_ok=True)
        return OpenAIBatchPipeline(spark, work_dir=wd)

    ssub.run_stream_inference(
        doc_stream,
        make_pipeline,
        key_col="doc_id",
        out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        validate=False,
        poll_interval_seconds=0.01,
    )

    streamed = spark.read.parquet(os.path.join(out, "results"))
    assert streamed.select("doc_id").distinct().count() == streamed.count()

    # one-shot twin under the same id convention
    one = docs.withColumn("idx", F.col("doc_id").cast("long"))
    pipe = OpenAIBatchPipeline(spark, work_dir=str(tmp_path / "oneshot"))
    results, errors = pipe.run(
        one, validate=False, poll_interval_seconds=0.01
    )
    want = results.select(
        "doc_id",
        F.col("resp.custom_id").alias("custom_id"),
        F.to_json("resp").alias("resp_json"),
    )
    got = streamed.select("doc_id", "custom_id", "resp_json")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # errors are also only key-dependent
    n_err_stream = spark.read.parquet(os.path.join(out, "errors")).count()
    assert n_err_stream == errors.count()


def test_streaming_incremental_dedup_equals_one_shot(spark):
    """The micro-batched index probe must reproduce the one-shot probe
    exactly — also oracle-gated, but locked here so a streaming
    refactor can't drift while the sampled driver gate looks away."""
    from genai_batch_processor_spark import queries as q

    sf = "/root/testdata/sf0.001"
    one = {
        (r.id_a, r.id_b, r.jaccard)
        for r in q.q_incremental_near_dup(spark, sf).collect()
    }
    streamed = {
        (r.id_a, r.id_b, r.jaccard)
        for r in q.q_incremental_near_dup_stream(spark, sf).collect()
    }
    assert streamed == one
    assert len(one) > 0


def test_sink_probe_restart_across_checkpoint(spark, tmp_path):
    """The sink-based probe survives a stop/restart: drain wave 1,
    restart the SAME checkpoint over wave 1 + wave 2, and the on-disk
    pair union equals the one-shot probe over both waves — no driver
    state bridges the restart (the probe extras are the sunk per-epoch
    index dirs). A third restart with nothing new must write nothing
    (exactly-once end-to-end)."""
    from genai_batch_processor_spark.operators import dedup
    from genai_batch_processor_spark.queries import INC_DEDUP_OFFSET
    from genai_batch_processor_spark.streaming import ingest

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    index = dedup.minhash_index(docs, "doc_id", "text").persist()
    new_docs = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + INC_DEDUP_OFFSET).alias("doc_id"), "text"
    )
    # split on %20 of the ORIGINAL id space: batch ids are all ≡3
    # (mod 10) plus an even offset, so a %2 split would leave wave 1
    # EMPTY and the cross-restart probe path untested (review finding)
    wave1 = new_docs.filter(F.col("doc_id") % 20 == 3)
    wave2 = new_docs.filter(F.col("doc_id") % 20 == 13)
    shards = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(shards)
        )
        ingest.near_dup_probe_stream_to_parquet(
            stream, index, "doc_id", "text", out, ckpt
        )

    try:
        assert wave1.count() > 0 and wave2.count() > 0
        wave1.repartition(2).write.mode("append").parquet(shards)
        drain()
        wave2.repartition(2).write.mode("append").parquet(shards)
        drain()  # restart: picks up only wave-2 files from the checkpoint
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in spark.read.parquet(os.path.join(out, "pairs")).collect()
        }
        want = {
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.incremental_near_dup_pairs(
                index, new_docs, "doc_id", "text"
            ).collect()
        }
        assert got == want
        assert len(want) > 0

        def epoch_dirs():
            return sorted(os.listdir(os.path.join(out, "pairs")))

        before = epoch_dirs()
        drain()  # restart with nothing new: no new epoch directories
        assert epoch_dirs() == before
    finally:
        index.unpersist()


def test_sink_probe_replays_over_leftover_rows(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crash between an epoch's rows write and its report write
    leaves a committed ``index/batch=N`` and no ``pairs/batch=N``. The
    leftover is made stale here (shifted-id copies of the batch's band
    rows appended to it), then: it is not compacted while it is the
    newest epoch (``keep_last``), the rerun's probe view reads no file
    of it, and the rerun's pairs equal the one-shot probe's, with the
    leftover replaced by the epoch's own rows."""
    import pytest

    from genai_batch_processor_spark.operators import dedup
    from genai_batch_processor_spark.queries import INC_DEDUP_OFFSET
    from genai_batch_processor_spark.sources import compaction
    from genai_batch_processor_spark.streaming import ingest

    docs = load_table(spark, sf_dir, "documents")
    index = dedup.minhash_index(docs, "doc_id", "text").persist()
    new_docs = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + INC_DEDUP_OFFSET).alias("doc_id"), "text"
    )
    wave1 = new_docs.filter(F.col("doc_id") % 20 == 3)
    wave2 = new_docs.filter(F.col("doc_id") % 20 == 13)
    shards = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    index_root = os.path.join(out, "index")
    leftover = os.path.join(index_root, "batch=1")

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(shards)
        )
        ingest.near_dup_probe_stream_to_parquet(
            stream, index, "doc_id", "text", out, ckpt
        )

    def crash(*args, **kwargs):
        raise RuntimeError("killed before the report write")

    probe_pairs = dedup.incremental_near_dup_pairs
    probed = []

    def spy(probe, *args, **kwargs):
        probed.extend(probe.inputFiles())
        return probe_pairs(probe, *args, **kwargs)

    try:
        wave1.coalesce(1).write.mode("append").parquet(shards)
        drain()  # epoch 0
        wave2.coalesce(1).write.mode("append").parquet(shards)
        with monkeypatch.context() as m:
            m.setattr(dedup, "incremental_near_dup_pairs", crash)
            with pytest.raises(Exception, match="killed before the report"):
                drain()  # epoch 1: rows written, report not
        assert os.path.isfile(os.path.join(leftover, "_SUCCESS"))
        assert not os.path.exists(os.path.join(out, "pairs", "batch=1"))
        dedup.minhash_index(
            wave2.withColumn("doc_id", F.col("doc_id") + INC_DEDUP_OFFSET),
            "doc_id",
            "text",
        ).write.mode("append").parquet(leftover)

        assert compaction.compact_epoch_sink(spark, index_root) == 0
        assert compaction.epoch_sink_paths(spark, index_root, before=1) == [
            f"file:{index_root}/_compacted/upto=0"
        ]
        with monkeypatch.context() as m:
            m.setattr(dedup, "incremental_near_dup_pairs", spy)
            drain()  # replays epoch 1
        assert any("/_compacted/upto=0/" in f for f in probed)
        assert not any("/batch=1/" in f for f in probed), probed
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in spark.read.parquet(os.path.join(out, "pairs")).collect()
        }
        want = {
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.incremental_near_dup_pairs(
                index, new_docs, "doc_id", "text"
            ).collect()
        }
        assert got == want and len(want) > 0
        rewritten = {r.id for r in spark.read.parquet(leftover).collect()}
        assert rewritten == {r.doc_id for r in wave2.collect()}
    finally:
        index.unpersist()


def test_sink_probe_empty_epoch_keeps_sink_invariants(spark, sf_dir, tmp_path):
    """An epoch over an empty shard writes a committed rows directory
    holding no rows and no report. The next epoch probes it (the
    ledger stays the set of earlier epochs), a restart writes nothing,
    compaction folds it, and the pairs equal the one-shot probe's."""
    from genai_batch_processor_spark.operators import dedup
    from genai_batch_processor_spark.queries import INC_DEDUP_OFFSET
    from genai_batch_processor_spark.sources import compaction
    from genai_batch_processor_spark.streaming import ingest

    docs = load_table(spark, sf_dir, "documents")
    index = dedup.minhash_index(docs, "doc_id", "text").persist()
    new_docs = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + INC_DEDUP_OFFSET).alias("doc_id"), "text"
    )
    shards = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    index_root = os.path.join(out, "index")

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(shards)
        )
        ingest.near_dup_probe_stream_to_parquet(
            stream, index, "doc_id", "text", out, ckpt
        )

    try:
        new_docs.limit(0).coalesce(1).write.mode("append").parquet(shards)
        new_docs.coalesce(1).write.mode("append").parquet(shards)
        drain()  # epoch 0 empty, epoch 1 the batch
        assert os.path.isfile(os.path.join(index_root, "batch=0", "_SUCCESS"))
        assert spark.read.parquet(os.path.join(index_root, "batch=0")).count() == 0
        assert sorted(os.listdir(os.path.join(out, "pairs"))) == ["batch=1"]
        before = sorted(os.listdir(index_root))
        drain()  # nothing new
        assert sorted(os.listdir(index_root)) == before
        assert compaction.compact_epoch_sink(spark, index_root) == 0
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in compaction.read_epoch_sink(
                spark, os.path.join(out, "pairs")
            ).collect()
        }
        want = {
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.incremental_near_dup_pairs(
                index, new_docs, "doc_id", "text"
            ).collect()
        }
        assert got == want and len(want) > 0
        assert compaction.read_epoch_sink(spark, index_root).count() == (
            new_docs.count() * dedup.LSH_BANDS
        )
    finally:
        index.unpersist()


def test_embedding_sink_probe_restart_across_checkpoint(spark, tmp_path):
    """ANN-ingest twin of the sink-probe restart test: drain wave 1 of
    a vector re-ingest, restart the SAME checkpoint over wave 1 +
    wave 2, and the on-disk pair union equals the one-shot
    incremental_embedding_pairs over both waves — probe extras live in
    the sunk per-epoch index dirs, never in driver state. A third
    restart with nothing new writes nothing."""
    from genai_batch_processor_spark.operators import clustering, similarity
    from genai_batch_processor_spark.queries import INC_DEDUP_OFFSET
    from genai_batch_processor_spark.streaming import ingest

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    cents = clustering.centroids_from_cells(clustering.kmeans_cells(emb))
    index = similarity.embedding_cell_index(emb, cents).persist()
    batch = emb.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + INC_DEDUP_OFFSET).alias("vec_id"), "embedding"
    )
    # %20 split (not %2): offset batch ids are all odd — see the
    # MinHash twin above; both waves must be non-empty for the
    # restart to exercise probing wave-1's sunk epoch dirs
    wave1 = batch.filter(F.col("vec_id") % 20 == 3)
    wave2 = batch.filter(F.col("vec_id") % 20 == 13)
    shards = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(shards)
        )
        ingest.embedding_probe_stream_to_parquet(
            stream, index, cents, out, ckpt
        )

    try:
        assert wave1.count() > 0 and wave2.count() > 0
        wave1.repartition(2).write.mode("append").parquet(shards)
        drain()
        wave2.repartition(2).write.mode("append").parquet(shards)
        drain()  # restart: picks up only wave-2 files from the checkpoint
        got = {
            (r.id_a, r.id_b, r.cosine)
            for r in spark.read.parquet(os.path.join(out, "pairs")).collect()
        }
        want = {
            (r.id_a, r.id_b, r.cosine)
            for r in similarity.incremental_embedding_pairs(
                index, batch, cents
            ).collect()
        }
        assert got == want
        assert len(want) > 0

        def epoch_dirs():
            return sorted(os.listdir(os.path.join(out, "pairs")))

        before = epoch_dirs()
        drain()  # restart with nothing new: no new epoch directories
        assert epoch_dirs() == before

        # restart holding RE-TRAINED centroids: the _centroid_fp
        # marker must refuse before any probe (cell ids from earlier
        # epochs are meaningless under another centroid set)
        import pytest

        retrained = [(c, [v + 0.5 for v in vec]) for c, vec in cents]
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(shards)
        )
        with pytest.raises(ValueError, match="centroid set"):
            ingest.embedding_probe_stream_to_parquet(
                stream, index, retrained, out, ckpt
            )
    finally:
        index.unpersist()


def test_embedding_sink_probe_empty_marker_recovery(spark, tmp_path):
    """A kill between the _centroid_fp marker dir's creation and the
    text task's commit leaves an EMPTY marker directory. No fingerprint
    committed means no epoch committed either (the marker write
    precedes the first foreachBatch), so the next start must re-stamp
    and run — not wedge every restart on an IndexError until someone
    hand-deletes the marker."""
    from genai_batch_processor_spark.operators import clustering, similarity
    from genai_batch_processor_spark.streaming import ingest

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings").limit(50)
    cents = clustering.centroids_from_cells(clustering.kmeans_cells(emb))
    index = similarity.embedding_cell_index(emb, cents).persist()
    batch = emb.select(
        (F.col("vec_id") + 9_000_000).alias("vec_id"), "embedding"
    )
    shards = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    marker = os.path.join(out, "index", "_centroid_fp")
    os.makedirs(marker)  # the partial first start: dir, no committed row
    batch.coalesce(1).write.mode("append").parquet(shards)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(shards)
    )
    try:
        ingest.embedding_probe_stream_to_parquet(
            stream, index, cents, out, ckpt
        )
    finally:
        index.unpersist()
    # marker re-stamped with the live fingerprint; the probe ran
    fp = [r[0] for r in spark.read.text(marker).collect()]
    assert fp == [similarity.centroid_fingerprint(cents)]
    assert (
        spark.read.parquet(os.path.join(out, "pairs")).count() >= 50
    )  # every re-keyed copy pairs its original


def test_span_sink_probe_restart_across_checkpoint(spark, tmp_path):
    """Span twin of the sink-probe restart test (stream ingest now
    covers all three index stores): drain wave 1 of tail-batch docs,
    restart the SAME checkpoint over wave 1 + wave 2, and the on-disk
    report union equals the one-shot probe_span_index over both waves
    (no probe-then-extend — corpus spans only, so equality is exact by
    construction). A third restart with nothing new writes nothing,
    and the spans root carries the scheme marker plus one admitted-
    span epoch per micro-batch for a later merge_span_index fold."""
    from genai_batch_processor_spark.operators import curation
    from genai_batch_processor_spark.queries import INC_DEDUP_OFFSET
    from genai_batch_processor_spark.streaming import ingest

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    index = curation.span_index(docs).persist()
    ws = F.split(F.col("text"), " ")
    tail_text = F.concat_ws(
        " ",
        F.slice(ws, 4, F.greatest(F.size(ws) - 3, F.lit(1))),
        F.concat(F.lit("zz"), F.col("doc_id").cast("string")),
    )
    new_docs = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + INC_DEDUP_OFFSET).alias("doc_id"),
        tail_text.alias("text"),
    )
    wave1 = new_docs.filter(F.col("doc_id") % 20 == 3)
    wave2 = new_docs.filter(F.col("doc_id") % 20 == 13)
    shards = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(shards)
        )
        ingest.span_probe_stream_to_parquet(stream, index, out, ckpt)

    try:
        assert wave1.count() > 0 and wave2.count() > 0
        wave1.repartition(2).write.mode("append").parquet(shards)
        drain()
        wave2.repartition(2).write.mode("append").parquet(shards)
        drain()  # restart picks up only wave-2 files from the checkpoint
        got = {
            (r.doc_id, r.n_spans, r.n_known_spans, r.known_ppm)
            for r in spark.read.parquet(
                os.path.join(out, "reports")
            ).collect()
        }
        want = {
            (r.doc_id, r.n_spans, r.n_known_spans, r.known_ppm)
            for r in curation.probe_span_index(index, new_docs).collect()
        }
        assert got == want and len(want) > 0
        # partial containment really exercised: strictly between 0 and 1e6
        assert all(0 < ppm < 1_000_000 for _, _, _, ppm in got)
        # admitted-span epochs sunk beside the reports, scheme-marked
        spans_root = os.path.join(out, "spans")
        epochs = [d for d in os.listdir(spans_root) if d.startswith("batch=")]
        assert len(epochs) == len(
            os.listdir(os.path.join(out, "reports"))
        ) > 0
        assert os.path.isdir(os.path.join(spans_root, "_span_fp"))

        before = sorted(os.listdir(os.path.join(out, "reports")))
        drain()  # nothing new: no new epoch directories
        assert sorted(os.listdir(os.path.join(out, "reports"))) == before
    finally:
        index.unpersist()


def test_probe_drain_job_ceilings(spark, tmp_path):
    """Each sink-based probe drain over a 2-epoch sf0.001 stream stays
    under a Spark job ceiling: the jobs run from the caller's job group
    (scheme fingerprint, marker) plus the jobs its stream runs (in the
    job group named by the query's run id). The ceilings are the counts
    the drains run since each epoch writes its batch rows once and
    reads them back, and both pair probes are one grouping of the
    batch rows with the index rows a broadcast semi-join selects (they
    were 28, 43 and 16 before); cutting the per-epoch fixed cost
    further lowers them."""
    from pyspark.sql.streaming import StreamingQueryListener

    from genai_batch_processor_spark.operators import (
        clustering,
        curation,
        dedup,
        similarity,
    )
    from genai_batch_processor_spark.queries import INC_DEDUP_OFFSET
    from genai_batch_processor_spark.streaming import ingest

    class RunIds(StreamingQueryListener):
        def __init__(self):
            self.ids = []

        def onQueryStarted(self, event):  # synchronous with start()
            self.ids.append(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    new_docs = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + INC_DEDUP_OFFSET).alias("doc_id"), "text"
    )
    new_vecs = emb.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + INC_DEDUP_OFFSET).alias("vec_id"), "embedding"
    )
    cents = clustering.centroids_from_cells(clustering.kmeans_cells(emb))
    band = dedup.minhash_index(docs, "doc_id", "text").persist()
    cell = similarity.embedding_cell_index(emb, cents).persist()
    span = curation.span_index(docs).persist()
    cases = [
        # name, arrivals, schema, report root, drain, ceiling
        (
            "near_dup",
            new_docs,
            "doc_id long, text string",
            "pairs",
            lambda s, o, c: ingest.near_dup_probe_stream_to_parquet(
                s, band, "doc_id", "text", o, c
            ),
            14,
        ),
        (
            "embedding",
            new_vecs,
            "vec_id long, embedding array<float>",
            "pairs",
            lambda s, o, c: ingest.embedding_probe_stream_to_parquet(
                s, cell, cents, o, c
            ),
            13,
        ),
        (
            "span",
            new_docs,
            "doc_id long, text string",
            "reports",
            lambda s, o, c: ingest.span_probe_stream_to_parquet(
                s, span, o, c
            ),
            14,
        ),
    ]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listener = RunIds()
    spark.streams.addListener(listener)
    try:
        for idx in (band, cell, span):  # fill the caches uncounted
            assert idx.count() > 0
        for name, arrivals, schema, report_root, drain, ceiling in cases:
            key = arrivals.columns[0]
            shards = str(tmp_path / name / "shards")
            for rest in (3, 13):  # one file per epoch, both non-empty
                arrivals.filter(F.col(key) % 20 == rest).coalesce(
                    1
                ).write.mode("append").parquet(shards)
            out = str(tmp_path / name / "out")
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(shards)
            )
            group = f"drain-job-ceiling-{name}"
            first_run = len(listener.ids)
            sc.setJobGroup(group, name)
            try:
                drain(stream, out, str(tmp_path / name / "ckpt"))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            groups = [group] + listener.ids[first_run:]
            n_jobs = sum(len(tracker.getJobIdsForGroup(g)) for g in groups)
            epochs = [
                d
                for d in os.listdir(os.path.join(out, report_root))
                if d.startswith("batch=")
            ]
            assert len(epochs) == 2, (name, epochs)
            assert n_jobs <= ceiling, (name, n_jobs, ceiling)
    finally:
        spark.streams.removeListener(listener)
        for idx in (band, cell, span):
            idx.unpersist()
