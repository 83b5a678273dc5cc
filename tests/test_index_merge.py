"""Base-merge maintenance (sources/index_store.merge_*_index,
round-7 verdict item 4): folding a probe stream's epoch overlay back
into the saved index must never change what any probe sees — the
merged base + remaining overlay is the same relation as the old base +
full overlay, with the denormalized counts refreshed to the combined
truth."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from genai_batch_processor_spark.operators import dedup, similarity
from genai_batch_processor_spark.sources import compaction, index_store
from genai_batch_processor_spark.sources.tables import load_table
from genai_batch_processor_spark.streaming import ingest

SF = "/root/testdata/sf0.001"
OFFSET = 9_000_000


def _pairs_set(df, cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def _drain_minhash(spark, index, shards, ckpt, out):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(shards)
    )
    ingest.near_dup_probe_stream_to_parquet(
        stream, index, "doc_id", "text", out, ckpt
    )


def _minhash_flow(spark, tmp_path, docs, wave1, wave2, merge_between):
    """Index docs, stream-probe wave1, optionally merge, stream-probe
    wave2; return the final pair set under the read contract."""
    work = str(tmp_path / ("merge" if merge_between else "plain"))
    base = os.path.join(work, "base")
    shards = os.path.join(work, "shards")
    ckpt = os.path.join(work, "ckpt")
    out = os.path.join(work, "out")
    index_store.save_minhash_index(
        dedup.minhash_index(docs, "doc_id", "text"), base
    )
    index = index_store.load_minhash_index(spark, base).persist()
    try:
        wave1.repartition(2).write.mode("append").parquet(shards)
        _drain_minhash(spark, index, shards, ckpt, out)
        if merge_between:
            bound = index_store.merge_minhash_index(
                spark, base, os.path.join(out, "index")
            )
            assert bound == 0  # 2 epochs sunk, keep_last=1 folds epoch 0
            index.unpersist()
            # the stream contract after a merge: reload the merged base
            index = index_store.load_minhash_index(spark, base).persist()
        wave2.repartition(2).write.mode("append").parquet(shards)
        _drain_minhash(spark, index, shards, ckpt, out)
        pairs = compaction.read_epoch_sink(spark, os.path.join(out, "pairs"))
        return _pairs_set(pairs, ["id_a", "id_b"])
    finally:
        index.unpersist()


def test_minhash_merge_roundtrip(spark, tmp_path):
    """The full-lifecycle equivalence the merge must preserve: index →
    probe wave 1 → MERGE (fold epoch 0 into the base, reload) → probe
    wave 2, versus the same flow without the merge. Wave 2 carries a
    planted duplicate of a wave-1 doc, so a merge that lost or doubled
    epoch rows would change the pair set."""
    docs = load_table(spark, SF, "documents").limit(300)
    new_docs = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"), "text"
    )
    wave1 = new_docs.filter(F.col("doc_id") % 20 == 3)
    victim = wave1.orderBy("doc_id").limit(1).collect()[0]
    wave2 = new_docs.filter(F.col("doc_id") % 20 == 13).unionByName(
        spark.createDataFrame(
            [(victim.doc_id + 1_000_000, victim.text)],
            "doc_id long, text string",
        )
    )
    merged = _minhash_flow(spark, tmp_path, docs, wave1, wave2, True)
    plain = _minhash_flow(spark, tmp_path, docs, wave1, wave2, False)
    assert merged == plain
    assert any(
        victim.doc_id in p and victim.doc_id + 1_000_000 in p
        for p in merged
    )  # the cross-wave planted pair survived the merge


def test_minhash_merge_counts_and_guards(spark, tmp_path):
    """After a merge: the merged base passes the loader's bucket-count
    staleness guard (counts recomputed over the union), the folded
    epoch dirs are GC'd, the ledger/read contract skips them, and a
    RERUN of the merge is a no-op (idempotent crash repair)."""
    docs = load_table(spark, SF, "documents").limit(200)
    base = str(tmp_path / "base")
    shards = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    idx_root = os.path.join(out, "index")
    index_store.save_minhash_index(
        dedup.minhash_index(docs, "doc_id", "text"), base
    )
    index = index_store.load_minhash_index(spark, base).persist()
    try:
        batch = docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + OFFSET).alias("doc_id"), "text"
        )
        batch.repartition(3).write.mode("append").parquet(shards)
        _drain_minhash(spark, index, shards, ckpt, out)  # 3 epochs
        n_base_before = index.count()
        n_overlay = spark.read.parquet(
            os.path.join(idx_root, "batch=0"),
            os.path.join(idx_root, "batch=1"),
        ).count()

        bound = index_store.merge_minhash_index(spark, base, idx_root)
        assert bound == 1  # epochs 0-1 folded, epoch 2 kept (keep_last)
        # loader's staleness spot-check passes => bucket_n is truthful
        merged = index_store.load_minhash_index(spark, base)
        assert merged.count() == n_base_before + n_overlay
        # folded epochs GC'd; kept epoch still listed for the ledger
        listed = compaction.epoch_sink_paths(spark, idx_root)
        assert [p.rsplit("/", 1)[-1] for p in listed] == ["batch=2"]
        assert not os.path.isdir(os.path.join(idx_root, "batch=0"))
        # rerun converges: nothing new to fold
        assert index_store.merge_minhash_index(spark, base, idx_root) is None
        assert index_store.load_minhash_index(spark, base).count() == (
            n_base_before + n_overlay
        )
    finally:
        index.unpersist()


def test_merged_marker_read_and_compact_semantics(spark, tmp_path):
    """compaction-level contract of the ``_merged/upto=K`` marker:
    readers skip epochs ≤ K even BEFORE GC runs (the crash window
    between marker commit and cleanup), compaction never re-folds
    merged epochs, and GC collects them."""
    root = str(tmp_path / "sink")
    for e in range(4):
        spark.range(e * 10, e * 10 + 10).write.parquet(f"{root}/batch={e}")
    compaction.record_merged_bound(spark, root, 1)
    listed = [
        p.rsplit("/", 1)[-1]
        for p in compaction.epoch_sink_paths(spark, root)
    ]
    assert listed == ["batch=2", "batch=3"]
    assert compaction.read_epoch_sink(spark, root).count() == 20
    # compaction floor: only epoch 2 eligible (3 is keep_last-protected)
    bound = compaction.compact_epoch_sink(spark, root)
    assert bound == 2
    rows = compaction.read_epoch_sink(spark, root).count()
    assert rows == 20  # compaction changed layout, not the relation
    deleted = compaction.gc_epoch_sink(spark, root)
    assert any("batch=0" in d for d in deleted)
    assert any("batch=1" in d for d in deleted)
    assert compaction.read_epoch_sink(spark, root).count() == 20


def test_embedding_merge_roundtrip(spark, tmp_path):
    """Embedding twin: stream-probe two waves with a merge in between
    must yield the same pair set as without it, the merged base must
    pass the cell-count guard, and a one-shot probe of a fresh batch
    against (merged base + remaining overlay) must equal one against
    (old base + full overlay)."""
    from genai_batch_processor_spark.operators import clustering

    emb = load_table(spark, SF, "embeddings").limit(400)
    cents = clustering.centroids_from_cells(
        clustering.kmeans_cells(emb, k=8, iters=3)
    )
    base = str(tmp_path / "ebase")
    shards = str(tmp_path / "eshards")
    ckpt = str(tmp_path / "eckpt")
    out = str(tmp_path / "eout")
    idx_root = os.path.join(out, "index")
    index_store.save_embedding_index(
        similarity.embedding_cell_index(emb, cents), cents, base
    )
    index = index_store.load_embedding_index(spark, base, cents).persist()
    try:
        batch = emb.filter(F.col("vec_id") % 7 == 0).select(
            (F.col("vec_id") + OFFSET).alias("vec_id"), "embedding"
        )
        batch.repartition(2).write.mode("append").parquet(shards)
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(shards)
        )
        ingest.embedding_probe_stream_to_parquet(
            stream, index, cents, out, ckpt
        )
        before = index.count()
        probe2 = emb.filter(F.col("vec_id") % 7 == 3).select(
            (F.col("vec_id") + 2 * OFFSET).alias("vec_id"), "embedding"
        )
        # reference: one-shot probe against old base + FULL overlay
        full_overlay = spark.read.parquet(
            os.path.join(idx_root, "batch=0"),
            os.path.join(idx_root, "batch=1"),
        )
        ref = similarity.incremental_embedding_pairs(
            index.unionByName(
                full_overlay.select(
                    "cell", "vec_id", "embedding", "nrm", "cell_n"
                )
            ),
            probe2,
            cents,
        )
        ref_set = _pairs_set(ref, ["id_a", "id_b"])
        n_folded = spark.read.parquet(
            os.path.join(idx_root, "batch=0")
        ).count()

        bound = index_store.merge_embedding_index(
            spark, base, idx_root, cents
        )
        assert bound == 0
        index.unpersist()
        merged = index_store.load_embedding_index(
            spark, base, cents
        ).persist()
        assert merged.count() == before + n_folded
        kept = compaction.read_epoch_sink(spark, idx_root)
        got = similarity.incremental_embedding_pairs(
            merged.unionByName(
                kept.select("cell", "vec_id", "embedding", "nrm", "cell_n")
            ),
            probe2,
            cents,
        )
        assert _pairs_set(got, ["id_a", "id_b"]) == ref_set
        merged.unpersist()
    finally:
        index.unpersist()


def test_span_merge(spark, tmp_path):
    """Span store merge: after folding an admitted batch's spans, a
    probe sees exactly what a from-scratch index over (corpus ∪
    admitted) would report — and the scheme fingerprint is re-stamped
    so the merged store still loads under the guard."""
    from genai_batch_processor_spark.operators import curation

    docs = load_table(spark, SF, "documents").limit(200)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    admitted = docs.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"), "text"
    )
    base = str(tmp_path / "span")
    index_store.save_span_index(
        curation.span_index(corpus, span_words=8), base, 8
    )
    index_store.merge_span_index(
        spark, base, curation.span_index(admitted, span_words=8), 8
    )
    merged = index_store.load_span_index(spark, base, 8)
    scratch = curation.span_index(
        corpus.select("doc_id", "text").unionByName(admitted),
        span_words=8,
    )
    assert _pairs_set(merged, ["h"]) == _pairs_set(scratch, ["h"])


def _dir_listing(root, prefix):
    """{relative_path: (size, mtime_ns)} for every file under dirs of
    ``root`` whose name starts with ``prefix`` — the byte-for-byte
    untouched-partition witness."""
    out = {}
    for dirpath, _, files in os.walk(root):
        rel_dir = os.path.relpath(dirpath, root)
        if not rel_dir.startswith(prefix):
            continue
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(rel_dir, f)] = (st.st_size, st.st_mtime_ns)
    return out


def test_embedding_scoped_merge_skips_untouched_partitions(spark, tmp_path):
    """r8 verdict item 2, where it pays: an overlay touching a proper
    subset of cells must merge WITHOUT rewriting the other cell=
    partitions — their files stay byte-for-byte (names, sizes, mtimes),
    while touched cells are swapped, counts recomputed, and the loader
    guard still passes over the mixed-generation store."""
    from genai_batch_processor_spark.operators import clustering

    emb = load_table(spark, SF, "embeddings").limit(400)
    cents = clustering.centroids_from_cells(
        clustering.kmeans_cells(emb, k=8, iters=3)
    )
    base = str(tmp_path / "base")
    cell_index = similarity.embedding_cell_index(emb, cents)
    index_store.save_embedding_index(cell_index, cents, base)
    n_base = spark.read.parquet(base).count()

    # overlay: re-keyed copies of vectors from ONE cell (replays assign
    # to the same cell under the same centroids) → exactly one touched
    # cell partition
    target_cell = cell_index.select("cell").orderBy("cell").first()["cell"]
    batch = (
        cell_index.filter(F.col("cell") == target_cell)
        .select((F.col("vec_id") + OFFSET).alias("vec_id"), "embedding")
        .limit(20)
    )
    root = str(tmp_path / "overlay")
    overlay_rows = similarity.embedding_cell_index(batch, cents)
    n_fold = overlay_rows.count()
    for e in range(2):  # keep_last=1 folds epoch 0 only
        overlay_rows.write.parquet(f"{root}/batch={e}")
    (
        spark.range(1)
        .select(F.lit(similarity.centroid_fingerprint(cents)).alias("v"))
        .coalesce(1)
        .write.text(os.path.join(root, "_centroid_fp"))
    )

    before = _dir_listing(base, "cell=")
    untouched_before = {
        k: v
        for k, v in before.items()
        if not k.startswith(f"cell={target_cell}{os.sep}")
    }
    assert untouched_before  # the witness set must be non-empty

    bound = index_store.merge_embedding_index(spark, base, root, cents)
    assert bound == 0

    after = _dir_listing(base, "cell=")
    untouched_after = {
        k: v
        for k, v in after.items()
        if not k.startswith(f"cell={target_cell}{os.sep}")
    }
    assert untouched_after == untouched_before  # byte-for-byte
    # the touched partition WAS rewritten (its file set changed)
    touched_before = {
        k: v for k, v in before.items() if k not in untouched_before
    }
    touched_after = {
        k: v for k, v in after.items() if k not in untouched_after
    }
    assert touched_before and touched_after
    assert touched_after != touched_before

    merged = index_store.load_embedding_index(spark, base, cents)
    assert merged.count() == n_base + n_fold
    assert (
        merged.filter(F.col("vec_id") >= OFFSET)
        .select(F.count_distinct("cell"))
        .first()[0]
        == 1
    )


def test_embedding_merge_cross_cell_replay_falls_back_to_full(
    spark, tmp_path
):
    """Self-review r9: vec_id does NOT contain the partition column, so
    a vector re-ingested with a NEW embedding can move cells — a scoped
    fold would leave its stale row alive in an untouched partition
    (duplicate vec_id, conflicting embeddings). The guard must detect
    the cross-cell replay and route to the full global-dedup rewrite:
    after the merge the index holds EXACTLY ONE row for the moved
    vec_id, and vec_id uniqueness holds index-wide."""
    from genai_batch_processor_spark.operators import clustering

    emb = load_table(spark, SF, "embeddings").limit(400)
    cents = clustering.centroids_from_cells(
        clustering.kmeans_cells(emb, k=8, iters=3)
    )
    base = str(tmp_path / "base")
    cell_index = similarity.embedding_cell_index(emb, cents)
    index_store.save_embedding_index(cell_index, cents, base)
    n_base = spark.read.parquet(base).count()

    # victim: a vector in cell A re-ingested under ITS OWN id but with
    # the embedding of a vector from a different cell B → assigns to B
    cells = {
        r["cell"]: r
        for r in cell_index.select("cell", "vec_id").collect()
    }
    assert len(cells) >= 2
    cell_a, cell_b = sorted(cells)[:2]
    victim_id = cells[cell_a]["vec_id"]
    donor_id = cells[cell_b]["vec_id"]
    donor_vec = (
        emb.filter(F.col("vec_id") == donor_id)
        .select("embedding")
        .first()["embedding"]
    )
    batch = spark.createDataFrame(
        [(int(victim_id), donor_vec)], "vec_id long, embedding array<float>"
    )
    overlay_rows = similarity.embedding_cell_index(batch, cents)
    assert overlay_rows.first()["cell"] == cell_b  # it really moved
    root = str(tmp_path / "overlay")
    for e in range(2):
        overlay_rows.write.parquet(f"{root}/batch={e}")
    (
        spark.range(1)
        .select(F.lit(similarity.centroid_fingerprint(cents)).alias("v"))
        .coalesce(1)
        .write.text(os.path.join(root, "_centroid_fp"))
    )

    assert index_store.merge_embedding_index(spark, base, root, cents) == 0
    merged = index_store.load_embedding_index(spark, base, cents)
    # the stale cell-A row is GONE: one row for the victim, uniqueness
    # index-wide, total = base (the replay replaced, never appended)
    assert merged.filter(F.col("vec_id") == victim_id).count() == 1
    assert merged.count() == n_base
    assert (
        merged.groupBy("vec_id").count().filter(F.col("count") > 1).count()
        == 0
    )


def test_minhash_scoped_merge_band_mechanism(spark, tmp_path):
    """The same scoping mechanism on the band store: a (synthetic)
    single-band overlay must leave the other band= partitions'
    files byte-for-byte. Real MinHash epochs touch every band (each
    doc emits one row per band — documented in merge_minhash_index),
    so this pins the mechanism, not the typical economics."""
    from genai_batch_processor_spark.operators import dedup as dd

    docs = load_table(spark, SF, "documents").limit(150)
    base = str(tmp_path / "base")
    index_store.save_minhash_index(
        dd.minhash_index(docs, "doc_id", "text"), base
    )
    n_base = spark.read.parquet(base).count()

    overlay_rows = (
        dd.minhash_index(
            docs.limit(30).select(
                (F.col("doc_id") + OFFSET).alias("doc_id"), "text"
            ),
            "doc_id",
            "text",
        )
        .filter(F.col("band") == 0)
    )
    n_fold = overlay_rows.count()
    root = str(tmp_path / "overlay")
    for e in range(2):
        overlay_rows.write.parquet(f"{root}/batch={e}")
    (
        spark.range(1)
        .select(F.lit(dd.minhash_scheme_fingerprint()).alias("v"))
        .coalesce(1)
        .write.text(os.path.join(root, "_minhash_fp"))
    )

    before = _dir_listing(base, "band=")
    untouched_before = {
        k: v for k, v in before.items() if not k.startswith(f"band=0{os.sep}")
    }
    assert untouched_before

    bound = index_store.merge_minhash_index(spark, base, root)
    assert bound == 0
    after = _dir_listing(base, "band=")
    untouched_after = {
        k: v for k, v in after.items() if not k.startswith(f"band=0{os.sep}")
    }
    assert untouched_after == untouched_before
    merged = index_store.load_minhash_index(spark, base)
    assert merged.count() == n_base + n_fold


def test_merge_refuses_inflight_epoch(spark, tmp_path):
    """r8 verdict item 4: the quiescence contract is now a guard. Run a
    real drain, then strip the newest epoch's _SUCCESS — the exact
    on-disk state of an epoch being written mid-stream (the committer
    creates _SUCCESS only at job commit) — and the merge must refuse,
    naming the epoch. Restoring the commit marker (stream stopped /
    epoch committed) lets the same merge proceed."""
    import pytest

    docs = load_table(spark, SF, "documents").limit(150)
    base = str(tmp_path / "base")
    shards = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    idx_root = os.path.join(out, "index")
    index_store.save_minhash_index(
        dedup.minhash_index(docs, "doc_id", "text"), base
    )
    index = index_store.load_minhash_index(spark, base).persist()
    try:
        batch = docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + OFFSET).alias("doc_id"), "text"
        )
        batch.repartition(2).write.mode("append").parquet(shards)
        _drain_minhash(spark, index, shards, ckpt, out)  # 2 epochs

        success = os.path.join(idx_root, "batch=1", "_SUCCESS")
        assert os.path.exists(success)
        os.remove(success)  # epoch 1 now reads as in-flight
        assert compaction.inflight_epochs(spark, idx_root) == [1]
        with pytest.raises(ValueError, match=r"in-flight.*\[1\]"):
            index_store.merge_minhash_index(spark, base, idx_root)

        open(success, "w").close()  # committed again: merge proceeds
        assert index_store.merge_minhash_index(spark, base, idx_root) == 0
    finally:
        index.unpersist()


def test_drain_lease_blocks_all_maintenance(spark, tmp_path):
    """r9 self-review: the uncommitted-epoch tripwire only covers the
    write window; a live stream BETWEEN committed micro-batches still
    holds cached ledger paths. The probe streams now hold a _draining
    lease for the whole drain, and EVERY maintenance entrypoint —
    merge, compaction, GC — refuses while it is held, naming the
    holder. The lease is released on drain completion (asserted on a
    real drain); a SAME-tag re-acquire overwrites a stale one (foreign
    tags are refused — see test_lease_symmetry_and_maintenance_tripwire)."""
    import pytest

    docs = load_table(spark, SF, "documents").limit(120)
    base = str(tmp_path / "base")
    shards = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    idx_root = os.path.join(out, "index")
    pairs_root = os.path.join(out, "pairs")
    index_store.save_minhash_index(
        dedup.minhash_index(docs, "doc_id", "text"), base
    )
    index = index_store.load_minhash_index(spark, base).persist()
    try:
        batch = docs.filter(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + OFFSET).alias("doc_id"), "text"
        )
        batch.repartition(2).write.mode("append").parquet(shards)
        _drain_minhash(spark, index, shards, ckpt, out)
        # a completed drain holds no lease on either root
        for root in (idx_root, pairs_root):
            assert compaction.drain_lease_holder(spark, root) is None
            assert not os.path.exists(os.path.join(root, "_draining"))

        # simulate the live-stream window: lease held, epochs committed
        compaction.acquire_drain_lease(spark, idx_root, "test-holder")
        assert (
            compaction.drain_lease_holder(spark, idx_root) == "test-holder"
        )
        with pytest.raises(ValueError, match="leased.*test-holder"):
            index_store.merge_minhash_index(spark, base, idx_root)
        with pytest.raises(ValueError, match="leased.*test-holder"):
            compaction.compact_epoch_sink(spark, idx_root)
        with pytest.raises(ValueError, match="leased.*test-holder"):
            compaction.gc_epoch_sink(spark, idx_root)

        compaction.release_drain_lease(spark, idx_root)
        compaction.release_drain_lease(spark, idx_root)  # idempotent
        assert index_store.merge_minhash_index(spark, base, idx_root) == 0
    finally:
        index.unpersist()


def test_merge_refuses_scheme_mismatch(spark, tmp_path, monkeypatch):
    """An overlay sunk under a different MinHash scheme must be refused
    (folding would mix incomparable band keys), and an overlay with
    epochs but no marker is unverifiable — also refused."""
    import pytest

    docs = load_table(spark, SF, "documents").limit(100)
    base = str(tmp_path / "base")
    index_store.save_minhash_index(
        dedup.minhash_index(docs, "doc_id", "text"), base
    )
    # epochs but no marker
    bare = str(tmp_path / "bare_overlay")
    for e in range(3):
        dedup.minhash_index(
            docs.limit(10), "doc_id", "text"
        ).write.parquet(f"{bare}/batch={e}")
    with pytest.raises(ValueError, match="no _minhash_fp"):
        index_store.merge_minhash_index(spark, base, bare)
    # marker from a different scheme
    marked = str(tmp_path / "marked_overlay")
    for e in range(3):
        dedup.minhash_index(
            docs.limit(10), "doc_id", "text"
        ).write.parquet(f"{marked}/batch={e}")
    spark.createDataFrame([("0" * 64,)], "value string").coalesce(
        1
    ).write.text(os.path.join(marked, "_minhash_fp"))
    with pytest.raises(ValueError, match="MinHash scheme"):
        index_store.merge_minhash_index(spark, base, marked)


def test_merge_repair_after_takedown(spark, tmp_path):
    """merge_*_index(repair=True) is the takedown repair: a partitioned
    delete leaves bucket_n counting erased members and the loader's
    staleness guard refusing the index; the repair rewrite (count
    recompute + fingerprint re-stamp, nothing folded) must bring the
    store back under the guard with exactly the surviving rows."""
    import pytest

    from genai_batch_processor_spark.sources import upsert

    docs = load_table(spark, SF, "documents").limit(150)
    base = str(tmp_path / "base")
    index_store.save_minhash_index(
        dedup.minhash_index(docs, "doc_id", "text"), base
    )
    loaded = index_store.load_minhash_index(spark, base)
    total = loaded.count()
    victims = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("id")
    )
    # expected survivor count derived from the INDEX itself, not from
    # n_victims * LSH_BANDS — a fixture doc whose text yields no band
    # rows would otherwise break the arithmetic spuriously
    n_victim_rows = loaded.join(
        victims, loaded.id == victims.id, "left_semi"
    ).count()
    assert n_victim_rows > 0
    upsert.delete_keys_partitioned(spark, base, victims, "id", "band")
    with pytest.raises(ValueError, match="STALE"):
        index_store.load_minhash_index(spark, base)

    # nothing to fold and repair not requested => untouched, still stale
    assert index_store.merge_minhash_index(spark, base, None) is None
    with pytest.raises(ValueError, match="STALE"):
        index_store.load_minhash_index(spark, base)

    assert (
        index_store.merge_minhash_index(spark, base, None, repair=True)
        is None
    )
    repaired = index_store.load_minhash_index(spark, base)
    # exactly the victims' rows gone; bucket counts truthful again
    assert repaired.count() == total - n_victim_rows
    assert repaired.filter(
        F.col("id").isin([r.id for r in victims.collect()])
    ).count() == 0


def test_lease_symmetry_and_maintenance_tripwire(spark, tmp_path):
    """r9 advice: the quiescence contract must be symmetric. A foreign
    live drain lease is REFUSED (not overwritten — two drains on one
    root used to clobber each other's lease, and the first release
    deleted the second drain's protection); a same-identity rerun may
    overwrite its own stale lease. Maintenance holds a _maintaining
    marker for its whole window that acquire_drain_lease refuses on
    (the merge/GC can run for minutes after the entry check), the
    marker is reentrant within the process (a merge wraps its inner
    GC), and a crashed maintenance job's stale marker is overwritten
    by the rerun."""
    import pytest

    root = str(tmp_path / "root")
    os.makedirs(root)

    # same-tag re-acquire self-heals (a crashed drain's rerun); a
    # FOREIGN tag is refused
    compaction.acquire_drain_lease(spark, root, "ckpt=/a")
    compaction.acquire_drain_lease(spark, root, "ckpt=/a")
    with pytest.raises(ValueError, match="already leased"):
        compaction.acquire_drain_lease(spark, root, "ckpt=/b")
    compaction.release_drain_lease(spark, root)

    # maintenance blocks drains for its WHOLE window, reentrantly
    with compaction.maintenance_lease(spark, root, "outer maintenance"):
        with pytest.raises(ValueError, match="under maintenance"):
            compaction.acquire_drain_lease(spark, root, "ckpt=/a")
        with compaction.maintenance_lease(spark, root, "nested"):
            pass
        # the nested exit must NOT release the outer hold
        with pytest.raises(ValueError, match="under maintenance"):
            compaction.acquire_drain_lease(spark, root, "ckpt=/a")
    # released on exit — a drain may start again
    compaction.acquire_drain_lease(spark, root, "ckpt=/a")

    # the pre-destructive-step re-check fires on a lease that appeared
    # mid-maintenance (a writer bypassing the lease API)
    with pytest.raises(ValueError, match="while unit probe was running"):
        compaction._recheck_drain(spark, root, "unit probe")
    compaction.release_drain_lease(spark, root)

    # a crashed maintenance job's marker blocks drains but not the
    # maintenance rerun (rerunning maintenance IS the crash repair)
    marker = os.path.join(root, "_maintaining")
    with open(marker, "w") as f:
        f.write("dead job")
    with pytest.raises(ValueError, match="under maintenance"):
        compaction.acquire_drain_lease(spark, root, "ckpt=/a")
    with compaction.maintenance_lease(spark, root, "rerun"):
        pass
    assert not os.path.exists(marker)


def test_refused_drain_start_releases_its_first_lease(spark, tmp_path):
    """A drain whose SECOND sink root is foreign-leased refuses to
    start, and must not keep the lease it already took on the first
    root: a leftover lease would make every later merge, compaction
    or GC on that root refuse."""
    import pytest

    docs = load_table(spark, SF, "documents").limit(20)
    index = dedup.minhash_index(docs, "doc_id", "text")
    shards = str(tmp_path / "shards")
    out = str(tmp_path / "out")
    idx_root = os.path.join(out, "index")
    pairs_root = os.path.join(out, "pairs")
    docs.select("doc_id", "text").write.parquet(shards)
    os.makedirs(pairs_root)
    compaction.acquire_drain_lease(spark, pairs_root, "foreign")
    try:
        with pytest.raises(ValueError, match="already leased"):
            _drain_minhash(spark, index, shards, str(tmp_path / "ckpt"), out)
        assert compaction.drain_lease_holder(spark, idx_root) is None
        assert compaction.drain_lease_holder(spark, pairs_root) == "foreign"
    finally:
        compaction.release_drain_lease(spark, pairs_root)


def test_displaced_partition_repair(spark, tmp_path):
    """r9 advice (medium): a swap crash between rename(dst→old) and
    rename(src→dst) leaves the partition's ONLY copy in the displaced
    dir. The pre-r10 code deleted it on rerun (silent data loss, and
    the sibling `{part}.premerge` name poisoned partition discovery by
    coercing the partition column to string). Now: the displaced name
    is dot-prefixed (invisible to discovery), and the merges repair
    before their base read — restore when the live partition is
    missing, delete only when it exists (swap completed, leftover
    superseded)."""
    import shutil

    from genai_batch_processor_spark.operators import clustering

    emb = load_table(spark, SF, "embeddings").limit(400)
    cents = clustering.centroids_from_cells(
        clustering.kmeans_cells(emb, k=8, iters=3)
    )
    base = str(tmp_path / "base")
    cell_index = similarity.embedding_cell_index(emb, cents)
    index_store.save_embedding_index(cell_index, cents, base)
    n_base = spark.read.parquet(base).count()
    victim = sorted(
        d for d in os.listdir(base) if d.startswith("cell=")
    )[0]

    # intra-swap crash state: displaced dir present, live dir missing.
    # Discovery must NOT see the displaced dir (dot prefix).
    os.rename(
        os.path.join(base, victim), os.path.join(base, ".premerge." + victim)
    )
    spark.catalog.refreshByPath(base)
    assert spark.read.parquet(base).count() < n_base
    assert index_store.repair_displaced_partitions(spark, base) == [victim]
    assert spark.read.parquet(base).count() == n_base

    # completed-swap leftover: displaced dir + live dir → debris deleted
    shutil.copytree(
        os.path.join(base, victim), os.path.join(base, ".premerge." + victim)
    )
    assert index_store.repair_displaced_partitions(spark, base) == []
    assert not os.path.exists(os.path.join(base, ".premerge." + victim))
    spark.catalog.refreshByPath(base)
    assert spark.read.parquet(base).count() == n_base

    # the pre-r10 displaced spelling is healed the same way
    os.rename(
        os.path.join(base, victim), os.path.join(base, victim + ".premerge")
    )
    spark.catalog.refreshByPath(base)
    assert index_store.repair_displaced_partitions(spark, base) == [victim]
    spark.catalog.refreshByPath(base)
    assert spark.read.parquet(base).count() == n_base

    # end-to-end: a merge over a crashed base self-heals BEFORE its
    # base read — no partition is rebuilt overlay-only
    os.rename(
        os.path.join(base, victim), os.path.join(base, ".premerge." + victim)
    )
    spark.catalog.refreshByPath(base)
    target_cell = int(victim.split("=")[1])
    batch = (
        cell_index.filter(F.col("cell") == target_cell)
        .select((F.col("vec_id") + OFFSET).alias("vec_id"), "embedding")
        .limit(5)
    )
    overlay_rows = similarity.embedding_cell_index(batch, cents)
    n_fold = overlay_rows.count()
    root = str(tmp_path / "overlay")
    for e in range(2):  # keep_last=1 folds epoch 0 only
        overlay_rows.write.parquet(f"{root}/batch={e}")
    (
        spark.range(1)
        .select(F.lit(similarity.centroid_fingerprint(cents)).alias("v"))
        .coalesce(1)
        .write.text(os.path.join(root, "_centroid_fp"))
    )
    assert index_store.merge_embedding_index(spark, base, root, cents) == 0
    merged = index_store.load_embedding_index(spark, base, cents)
    assert merged.count() == n_base + n_fold  # nothing lost


def test_merge_fold_overlay_wins_deterministically(spark, tmp_path):
    """r9 advice: the fold's dedup used to keep an ARBITRARY row per
    natural key, so a re-ingested vector/document could silently lose
    to its stale base row. Precedence is now deterministic
    (index_store._overlay_wins): the overlay row survives, on both the
    scoped path (same-cell re-ingest) and the MinHash band store."""
    from genai_batch_processor_spark.operators import clustering

    # -- embedding store, scoped path: same-cell re-ingest with a NEW
    # embedding (the donor vector lives in the same cell, so the
    # cross-cell guard keeps the fold scoped)
    emb = load_table(spark, SF, "embeddings").limit(400)
    cents = clustering.centroids_from_cells(
        clustering.kmeans_cells(emb, k=8, iters=3)
    )
    base = str(tmp_path / "ebase")
    cell_index = similarity.embedding_cell_index(emb, cents)
    index_store.save_embedding_index(cell_index, cents, base)
    two = (
        cell_index.groupBy("cell")
        .agg(F.collect_list("vec_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .first()
    )
    victim_id, donor_id = int(two["ids"][0]), int(two["ids"][1])
    donor_vec = (
        emb.filter(F.col("vec_id") == donor_id)
        .select("embedding")
        .first()["embedding"]
    )
    old_vec = (
        emb.filter(F.col("vec_id") == victim_id)
        .select("embedding")
        .first()["embedding"]
    )
    assert list(donor_vec) != list(old_vec)
    batch = spark.createDataFrame(
        [(victim_id, donor_vec)], "vec_id long, embedding array<float>"
    )
    overlay_rows = similarity.embedding_cell_index(batch, cents)
    assert overlay_rows.first()["cell"] == two["cell"]  # same cell
    eroot = str(tmp_path / "eoverlay")
    for e in range(2):
        overlay_rows.write.parquet(f"{eroot}/batch={e}")
    (
        spark.range(1)
        .select(F.lit(similarity.centroid_fingerprint(cents)).alias("v"))
        .coalesce(1)
        .write.text(os.path.join(eroot, "_centroid_fp"))
    )
    n_base = spark.read.parquet(base).count()
    assert index_store.merge_embedding_index(spark, base, eroot, cents) == 0
    merged = index_store.load_embedding_index(spark, base, cents)
    survivor = merged.filter(F.col("vec_id") == victim_id).collect()
    assert len(survivor) == 1
    assert list(survivor[0]["embedding"]) == list(donor_vec)  # NEW row won
    assert merged.count() == n_base  # replaced, never appended

    # -- MinHash band store: re-ingested doc with NEW text; its (band,
    # key, hs) rows must be the new text's, not the stale base rows
    docs = load_table(spark, SF, "documents").limit(120)
    mbase = str(tmp_path / "mbase")
    index_store.save_minhash_index(
        dedup.minhash_index(docs, "doc_id", "text"), mbase
    )
    victim_doc = int(docs.select("doc_id").first()["doc_id"])
    new_text = (
        "entirely new replacement text for the re-ingested document "
        "with enough words to shingle and band into every partition "
        "of the minhash store after the rewrite happened here"
    )
    redoc = spark.createDataFrame(
        [(victim_doc, new_text)], "doc_id long, text string"
    )
    new_rows = dedup.minhash_index(redoc, "doc_id", "text")
    mroot = str(tmp_path / "moverlay")
    for e in range(2):
        new_rows.write.parquet(f"{mroot}/batch={e}")
    (
        spark.range(1)
        .select(F.lit(dedup.minhash_scheme_fingerprint()).alias("v"))
        .coalesce(1)
        .write.text(os.path.join(mroot, "_minhash_fp"))
    )
    assert index_store.merge_minhash_index(spark, mbase, mroot) == 0
    mmerged = index_store.load_minhash_index(spark, mbase)
    got = {
        (r["band"], r["key"], tuple(r["hs"]))
        for r in mmerged.filter(F.col("id") == victim_doc).collect()
    }
    want = {
        (r["band"], r["key"], tuple(r["hs"]))
        for r in new_rows.collect()
    }
    assert got == want  # every band row is the NEW text's


def test_repeated_folds_keep_base_compact(spark, tmp_path):
    """Band-store merge economics (round-9 verdict item 5): a fold must
    leave the rewritten partitions at TARGET_BYTES_PER_FILE sizing, so
    N repeated small folds at ~constant data keep the base's file count
    ~flat instead of fragmenting each band into shuffle-partition-many
    tiny files per fold. The same batch is re-ingested every round
    (overlay-wins dedup keeps the merged row count constant after the
    first fold), and the per-band data file count is asserted equal —
    and tiny-data-sized, i.e. exactly one target-byte file per band —
    across every fold.

    AQE partition coalescing is disabled around the fold calls: at test
    scale it collapses the dedup window's shuffle output to one
    partition and masks the fragmentation, but at production scale the
    merged slice exceeds the 64 MB advisory size and coalescing stops
    producing target-byte files — the explicit byte-based repartition
    must carry the sizing contract on its own (pre-fix, with coalescing
    off, each fold leaves shuffle-partition-many files per band)."""
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev_coalesce = spark.conf.get(coalesce_key, "true")
    docs = load_table(spark, SF, "documents").limit(200)
    base = str(tmp_path / "base")
    shards = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    idx_root = os.path.join(out, "index")
    index_store.save_minhash_index(
        dedup.minhash_index(docs, "doc_id", "text"), base
    )
    batch = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"), "text"
    )

    def band_file_counts():
        return {
            d: len(
                [
                    f
                    for f in os.listdir(os.path.join(base, d))
                    if not f.startswith(("_", "."))
                ]
            )
            for d in sorted(os.listdir(base))
            if d.startswith("band=")
        }

    rows_per_fold = []
    counts_per_fold = []
    try:
        spark.conf.set(coalesce_key, "false")
        for fold in range(4):
            index = index_store.load_minhash_index(spark, base).persist()
            batch.coalesce(1).write.mode("append").parquet(shards)
            _drain_minhash(spark, index, shards, ckpt, out)
            index.unpersist()
            bound = index_store.merge_minhash_index(spark, base, idx_root)
            if fold == 0:
                # one epoch so far; keep_last=1 leaves nothing to fold
                assert bound is None
                continue
            assert bound == fold - 1
            spark.catalog.refreshByPath(base)
            rows_per_fold.append(
                index_store.load_minhash_index(spark, base).count()
            )
            counts_per_fold.append(band_file_counts())
    finally:
        spark.conf.set(coalesce_key, prev_coalesce)
    # constant data: every fold after the first absorbs only re-ingested
    # duplicates, so the merged row count never grows
    assert len(set(rows_per_fold)) == 1
    # flat AND compact: every band dir holds exactly one data file at
    # this (tiny) size — ceil(bytes / TARGET_BYTES_PER_FILE) — on every
    # fold; pre-fix each fold left shuffle-partition-many files per band
    assert counts_per_fold[0] == counts_per_fold[-1]
    assert all(
        n == 1 for c in counts_per_fold for n in c.values()
    ), counts_per_fold


def test_sized_for_fold_empty_overlay_epoch_is_noop(spark):
    """r10 ADVICE: a committed-but-empty overlay epoch derives zero
    touched partitions; byte sizing must degrade to a no-op (return the
    merged frame unchanged) rather than IndexError on base_part_dirs[0]
    — the pre-sizing behavior was a harmless no-op rewrite."""
    from genai_batch_processor_spark.sources import index_store

    df = spark.range(3).selectExpr(
        "cast(id as string) as band", "id as doc_id"
    )
    out = index_store._sized_for_fold(
        spark, df, "band", "doc_id", base_part_dirs=[], overlay_paths=[]
    )
    assert out is df
