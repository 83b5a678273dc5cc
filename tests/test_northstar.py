"""North-star operator tests: dedup (exact / MinHash-LSH / SimHash) and
embedding similarity search. Semantic properties, not just parity —
parity with DuckDB is the driver's job (tools/check_parity.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from genai_batch_processor_spark.operators import dedup, similarity
from genai_batch_processor_spark.sources.tables import load_table

SF001 = "/root/testdata/sf0.01"  # near-dup structure only exists at sf0.01+


def test_exact_dedup_removes_injected_copies(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    shifted = docs.select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    deduped = dedup.exact_dedup(docs.unionAll(shifted), "text", "doc_id")
    kept = [r.doc_id for r in deduped.collect()]
    assert len(kept) == n
    assert all(k < 10_000_000 for k in kept)  # min-id survivor wins


def test_minhash_lsh_finds_known_near_dups(spark):
    docs = load_table(spark, SF001, "documents")
    pairs = dedup.near_dup_pairs(docs, "doc_id", "text").collect()
    assert len(pairs) >= 20  # fixture has ~25 seeded near-dup pairs
    assert all(r.id_a < r.id_b and r.jaccard >= 0.8 for r in pairs)
    # LSH candidates must be a superset of verified pairs
    cands = {
        (r.id_a, r.id_b)
        for r in dedup.candidate_pairs(docs, "doc_id", "text").collect()
    }
    assert {(r.id_a, r.id_b) for r in pairs} <= cands


def test_simhash_agrees_with_minhash_on_near_dups(spark):
    docs = load_table(spark, SF001, "documents")
    mh = {
        (r.id_a, r.id_b)
        for r in dedup.near_dup_pairs(docs, "doc_id", "text").collect()
    }
    sh = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_dup_pairs(docs, "doc_id", "text").collect()
    }
    # the two detectors see (mostly) the same seeded near-dups
    assert len(mh & sh) >= 0.7 * len(mh)


def test_text_and_vector_ops_survive_degenerate_rows(spark):
    """Empty/blank/null/unicode docs and zero vectors must produce NULLs,
    never abort the job (ANSI mode turns a bare division into a
    job-killing DIVIDE_BY_ZERO — real corpora always have empty docs)."""
    from genai_batch_processor_spark.functions import text as tx
    from genai_batch_processor_spark.functions import vectors as V

    docs = spark.createDataFrame(
        [(1, ""), (2, " "), (3, "x"), (4, None), (5, "ü ñ 漢字 test")],
        "doc_id long, text string",
    )
    rows = docs.select(
        "doc_id",
        tx.quality_score("text").alias("q"),
        tx.lang_guess("text").alias("lang"),
        tx.fingerprint("text").alias("fp"),
        dedup.simhash("text").alias("sh"),
    ).collect()
    assert len(rows) == 5  # completes — the empty doc scores 0, not a crash
    # (least() ignores the NULL punct_ratio identically on both engines)
    assert {r.doc_id: r.q for r in rows}[1] == 0.0
    assert dedup.near_dup_pairs(docs, "doc_id", "text").count() == 0

    vecs = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    got = similarity.topk_bruteforce(
        vecs, vecs.filter(F.col("vec_id") == 1), k=5
    ).collect()
    # the zero vector has NULL cosine and falls out of the ranking
    assert [r.neighbor_id for r in got] == [2]


def test_connected_components_chain_and_singleton(spark):
    """A 4-node chain needs multiple propagation rounds; an isolated pair
    and the chain must land in distinct components labelled by min id."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comp = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_survivors_keep_min_per_component(spark):
    docs = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(1, 6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 4)], "id_a long, id_b long")
    comps = dedup.connected_components(pairs)
    kept = {
        r.doc_id
        for r in dedup.dedup_survivors(docs, comps, "doc_id").collect()
    }
    assert kept == {1, 3, 5}  # 2 and 4 fold into component 1


def test_topk_bruteforce_properties(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    got = similarity.topk_bruteforce(emb, queries, k=5).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3}
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        sims = [r.cosine for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != r.query_id for r in rows)


def test_topk_lsh_is_subset_of_bucket_and_agrees_on_top1(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    brute = similarity.topk_bruteforce(emb, queries, k=5).collect()
    lsh = similarity.topk_lsh(emb, queries, k=5).collect()
    # every LSH result must be scored identically to brute force
    brute_sims = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    all_brute = similarity.topk_bruteforce(emb, queries, k=10**6).collect()
    all_sims = {(r.query_id, r.neighbor_id): r.cosine for r in all_brute}
    for r in lsh:
        assert all_sims[(r.query_id, r.neighbor_id)] == r.cosine
    assert brute_sims  # sanity


def test_embedding_near_dup_symmetric_and_thresholded(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = similarity.embedding_near_dup_pairs(emb, threshold=0.2).collect()
    assert all(r.id_a < r.id_b and r.cosine >= 0.2 for r in rows)


def test_simhash_hot_bucket_dropped_not_joined(spark):
    """The skew guard: a bucket bigger than max_bucket is dropped rather
    than exploded quadratically — identical docs land in the same nibble
    bucket in EVERY band, so with max_bucket below the clone count the
    clones must produce zero pairs while a small distinct pair survives."""
    clones = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(10)]
    small = [
        (100, "completely different text about rivers and mountains here"),
        (101, "completely different text about rivers and mountains there"),
    ]
    docs = spark.createDataFrame(clones + small, "doc_id long, text string")
    got = dedup.simhash_near_dup_pairs(docs, "doc_id", "text", max_bucket=4)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert all(a >= 100 for a, _ in pairs)  # clone bucket (size 10) dropped
    uncapped = dedup.simhash_near_dup_pairs(docs, "doc_id", "text", max_bucket=64)
    assert {(a, b) for a, b in [(0, 1)]} <= {
        (r.id_a, r.id_b) for r in uncapped.collect()
    }  # sanity: without the cap the clones DO pair


def test_embedding_hot_cell_dropped_not_joined(spark):
    """Same guard on the embedding path: a sign-bit cell over max_cell is
    dropped; a 2-member cell still pairs."""
    hot = [(i, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]) for i in range(10)]
    cold = [
        (100, [-1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (101, [-1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 0.9]),
    ]
    emb = spark.createDataFrame(
        hot + cold, "vec_id long, embedding array<double>"
    )
    got = similarity.embedding_near_dup_pairs(emb, threshold=0.5, max_cell=4)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert pairs == {(100, 101)}
    uncapped = similarity.embedding_near_dup_pairs(emb, threshold=0.5, max_cell=64)
    assert len(uncapped.collect()) > 1  # sanity: hot cell pairs without cap


def test_star_components_match_label_propagation(spark, sf_dir):
    """large-star/small-star must produce EXACTLY the labels min-label
    propagation produces — on toy graphs and on the real LSH pair
    relation from the fixture corpus."""
    toy = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (7, 5), (5, 6)],
        "id_a long, id_b long",
    )
    a = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(toy).collect()
    }
    b = {
        r.doc_id: r.component_id
        for r in dedup.connected_components_star(toy).collect()
    }
    assert a == b

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.near_dup_pairs(docs, "doc_id", "text").select(
        "id_a", "id_b"
    ).localCheckpoint(eager=True)
    # force the distributed rounds: the two ALGORITHMS must agree
    # (fast-path agreement is union-find-vs-union-find, proven in
    # tests/test_properties.py instead)
    lp = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(
            pairs, driver_edge_bound=0
        ).collect()
    }
    st = {
        r.doc_id: r.component_id
        for r in dedup.connected_components_star(
            pairs, driver_edge_bound=0
        ).collect()
    }
    assert lp == st


def test_star_components_converge_on_deep_chain(spark):
    """A 64-node path graph has diameter 63: label propagation would
    need ~63 rounds, large-star/small-star must finish in O(log² n) —
    well under 10 — with no convergence warning."""
    import warnings

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        comp = {
            r.doc_id: r.component_id
            for r in dedup.connected_components_star(
                chain, max_iter=10, driver_edge_bound=0
            ).collect()
        }
    assert comp == {i: 0 for i in range(65)}


def test_star_components_raise_when_budget_too_small(spark):
    """An exhausted round budget must FAIL, not hand a possibly-split
    labeling downstream: the exact fixed-point check (one extra round +
    symmetric exceptAll) catches a still-moving edge set."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="not converged"):
        dedup.connected_components_star(
            chain, max_iter=1, driver_edge_bound=0
        )


def test_kmeans_rejects_sparse_init_ids(spark):
    """Fewer than k vectors with id < k must raise — silently training
    fewer cells shrinks the IVF table under callers expecting k."""
    import pytest

    from genai_batch_processor_spark.operators import clustering

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (5, [0.0, 1.0]), (9, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="init vectors"):
        clustering.kmeans_cells(emb, k=4, iters=1)


def test_chunking_overlap_and_short_tail(spark):
    """Chunk geometry: starts advance by chunk-overlap; consecutive
    chunks share exactly `overlap` words; the tail chunk may be short;
    a short doc yields one chunk."""
    from genai_batch_processor_spark.operators import chunking

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "only three words")],
        "doc_id long, text string",
    )
    out = chunking.chunk_documents(
        docs, chunk_words=4, overlap=2
    ).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc.setdefault(r.doc_id, []).append(
            (r.chunk_text, r.n_words)
        )
    # doc 1: starts 1,3,5,7,9 over 10 words
    assert by_doc[1] == [
        ("w0 w1 w2 w3", 4),
        ("w2 w3 w4 w5", 4),
        ("w4 w5 w6 w7", 4),
        ("w6 w7 w8 w9", 4),
        ("w8 w9", 2),
    ]
    assert by_doc[2] == [("only three words", 3), ("words", 1)]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunking.chunk_documents(docs, chunk_words=4, overlap=4)


def test_packing_respects_budget_offsets(spark):
    """Offset packing: bin boundaries land at multiples of the budget
    in the cumulative word stream; totals are preserved."""
    from genai_batch_processor_spark.operators import chunking

    chunks = spark.createDataFrame(
        [("s", 1, 0, 300), ("s", 1, 1, 300), ("s", 2, 0, 300),
         ("s", 3, 0, 50)],
        "source string, doc_id long, chunk_idx int, n_words int",
    )
    out = {
        r.bin: (r.n_chunks, r.packed_words)
        for r in chunking.pack_chunks(
            chunks, "source", ["doc_id", "chunk_idx"], budget_words=512
        ).collect()
    }
    # offsets before each chunk: 0, 300, 600, 900 → bins 0,0,1,1
    assert out == {0: (2, 600), 1: (2, 350)}


def test_winnowing_catches_passage_containment_lsh_misses(spark):
    """A long copied passage inside an otherwise-unrelated document must
    surface as a winnow pair; whole-document MinHash-LSH, which keys on
    GLOBAL similarity, misses it — the two detectors are complementary,
    not redundant."""
    import random

    rng = random.Random(7)
    words = lambda n, tag: " ".join(  # noqa: E731
        f"{tag}{rng.randint(0, 9999)}" for _ in range(n)
    )
    passage = "the quick brown fox jumps over the lazy sleeping dog again"
    a = words(15, "a") + " " + passage + " " + words(15, "b")
    b = words(120, "c") + " " + passage + " " + words(120, "d")
    unrelated = words(60, "e")
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, unrelated)], "doc_id long, text string"
    )

    wp = dedup.winnow_pairs(df, "doc_id", "text").collect()
    assert {(r["id_a"], r["id_b"]) for r in wp} == {(1, 2)}
    # shared-run guarantee: the 10-word passage yields ≥ 10-(k+w-1)+1
    # shared windows, each contributing ≥1 shared fingerprint count
    assert all(r["n_shared"] >= dedup.WINNOW_MIN_SHARED for r in wp)

    lsh = dedup.candidate_pairs(df, "doc_id", "text").collect()
    assert (1, 2) not in {(r["id_a"], r["id_b"]) for r in lsh}


def test_blocked_pairs_basics_and_oversized_block_dropped(spark):
    """Entity-resolution candidate generation: matches only within a
    block, distance thresholded, a_key < b_key — and a degenerate
    blocking key (everything in one block) is DROPPED, not self-joined
    (same contract as the LSH/SimHash bucket caps)."""
    from genai_batch_processor_spark.operators import linkage

    rows = [
        (1, "red ring", "B1"),
        (2, "red ring", "B1"),      # exact dup of 1 → distance 0
        (3, "rad ring", "B1"),      # distance 1 from both
        (4, "blue gear", "B1"),     # same block key? no — other name
        (5, "red ring", "B2"),      # other block: never pairs with B1
    ]
    df = spark.createDataFrame(rows, "k long, name string, brand string")
    out = {
        (r.a_key, r.b_key): r.distance
        for r in linkage.blocked_pairs(
            df, "k", "name", ["brand"], max_distance=2
        ).collect()
    }
    # block B1 has 4 rows: pairs among 1,2,3 pass the distance gate;
    # 'blue gear' is 2+ block rows away in edit distance; 5 is B2-only
    assert out == {(1, 2): 0, (1, 3): 1, (2, 3): 1}

    # cap: a block of 3+ rows with max_block=2 vanishes entirely
    capped = linkage.blocked_pairs(
        df, "k", "name", ["brand"], max_distance=2, max_block=2
    ).collect()
    assert capped == []


def test_simhash_adaptive_width_boundary():
    """r8 verdict item 1: the signature width is a corpus-derived step
    like adaptive_k/adaptive_max_bucket — narrow (32/4) through the
    threshold INCLUSIVE (every fixture scale and sf1 sit below it, so
    recorded hashes are untouched), wide (56 bits, 4 bands of 14-bit
    nibbles) one row past it; divisibility
    width and the pigeonhole recall guarantee hold at both widths."""
    from genai_batch_processor_spark.operators import dedup

    t = dedup.SIMHASH_WIDEN_DOCS
    assert dedup.adaptive_simhash_width(0) == (32, 4)
    assert dedup.adaptive_simhash_width(50_000) == (32, 4)  # sf1
    assert dedup.adaptive_simhash_width(t) == (32, 4)
    assert dedup.adaptive_simhash_width(t + 1) == (56, 4)
    assert dedup.adaptive_simhash_width(500_000) == (56, 4)  # sf10

    # wide selectivity comes from WIDER NIBBLES at the same band count
    # (more bands would multiply candidate volume; wider cells shrink it)
    assert (32 // 4, 56 // 4) == (8, 14)
    for bits, bands in ((32, 4), (56, 4)):
        assert bits % bands == 0
        # hamming ≤ h differs in ≤ h bands → ≥ bands-h exact-equal
        assert dedup.SIMHASH_MAX_HAMMING < bands

    import pytest

    with pytest.raises(ValueError, match="<= 60"):
        dedup.simhash("text", 64)


def test_simhash_wide_path_end_to_end_parity(
    spark, sf_dir, duck, monkeypatch
):
    """Force the 500-doc fixture past the widening threshold and run
    the FULL adaptive near-dup path in both engines: Spark's
    simhash_near_dup_pairs picks (56, 4) via its own count, and the
    DuckDB twin (regenerated post-monkeypatch, same helpers the real
    oracle uses) flips to wide via ITS corpus-count branch — the
    width boundary is exercised end-to-end, not just per-expression."""
    from genai_batch_processor_spark.operators import dedup
    from genai_batch_processor_spark.sources.tables import load_table
    from tests.util import assert_matches_oracle

    monkeypatch.setattr(dedup, "SIMHASH_WIDEN_DOCS", 100)
    docs = load_table(spark, sf_dir, "documents")
    assert dedup.adaptive_simhash_width(docs.count()) == (56, 4)

    pairs = dedup.simhash_near_dup_pairs(docs, "doc_id", "text").select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )
    sql = f"""
    WITH h AS (
      SELECT doc_id, {dedup.sql_adaptive_word_hashes('text')} AS hs
      FROM documents
    ), s AS (
      SELECT doc_id, {dedup.sql_adaptive_simhash_from_hashes('hs')} AS sh
      FROM h
    ), bands AS (
      {dedup.sql_adaptive_simhash_bands("s", "sh")}
    ), ok AS (
      SELECT band, nib FROM bands GROUP BY band, nib
      HAVING count(*) BETWEEN 2 AND {dedup.sql_adaptive_max_bucket("documents")}
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
      FROM bands a
      JOIN ok o ON a.band = o.band AND a.nib = o.nib
      JOIN bands b
        ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM pairs
    WHERE hamming <= {dedup.SIMHASH_MAX_HAMMING}
    """
    # a parity pass over empty sets would prove nothing — the fixture's
    # injected near-dup structure must survive the wide signature
    assert pairs.count() > 0
    assert_matches_oracle(pairs, duck, sql)


def test_blocked_pairs_distance_mode(spark):
    """r8 advice: byte distances silently change max_distance UNITS on
    non-ASCII names (an accented edit costs 2 bytes). distance_mode is
    the opt-out: 'codepoint' restores the classic per-character
    distance, so a threshold of 1 pairs 'café'/'cafe' under codepoint
    but not under the default byte mode; invalid modes fail loudly."""
    import pytest

    from genai_batch_processor_spark.operators import linkage

    rows = [(1, "café", "B1"), (2, "cafe", "B1")]
    df = spark.createDataFrame(rows, "k long, name string, brand string")

    def pairs(**kw):
        return {
            (r.a_key, r.b_key): r.distance
            for r in linkage.blocked_pairs(
                df, "k", "name", ["brand"], **kw
            ).collect()
        }

    # é is 2 UTF-8 bytes: byte distance 2, codepoint distance 1
    assert pairs(max_distance=1) == {}
    assert pairs(max_distance=2) == {(1, 2): 2}
    assert pairs(max_distance=1, distance_mode="codepoint") == {(1, 2): 1}

    # multi_pass threads the mode through the same scorer
    mp = {
        (r.a_key, r.b_key): r.distance
        for r in linkage.multi_pass_pairs(
            df, "k", "name", ["brand"], [[]],
            max_distance=1, distance_mode="codepoint",
        ).collect()
    }
    assert mp == {(1, 2): 1}

    with pytest.raises(ValueError, match="distance_mode"):
        pairs(max_distance=1, distance_mode="grapheme")


def test_bm25_scores_rank_relevant_docs_higher(spark, sf_dir):
    """BM25 sanity: every scored doc matched ≥1 query term, scores are
    positive, and a doc matching more query terms with higher tf beats
    a low-overlap doc (monotonicity spot check via the top score)."""
    from genai_batch_processor_spark import queries as q

    out = q.q_bm25_scores(spark, sf_dir).collect()
    assert out, "query terms must match some documents"
    assert all(1 <= r.n_terms <= 5 for r in out)
    assert all(r.bm25_milli > 0 for r in out)
    best = max(out, key=lambda r: r.bm25_milli)
    assert best.n_terms >= 2  # the top doc hits multiple query terms


def test_near_dup_method_agreement_bounds(spark, sf_dir):
    """The audit's invariants: intersection no larger than either set,
    ratios in [0, 1000]."""
    from genai_batch_processor_spark import queries as q

    r = q.q_near_dup_method_agreement(spark, sf_dir).collect()[0]
    assert r.n_both <= min(r.n_truth, r.n_simhash)
    assert 0 <= r.precision_milli <= 1000
    assert 0 <= r.recall_milli <= 1000


def test_minhash_index_roundtrip_and_incremental_probe(spark, sf_dir, tmp_path):
    """The persisted band index round-trips through parquet (band-
    partitioned, version-guarded) and an incremental probe against the
    LOADED index matches probing the in-memory one — the train-once /
    ingest-many seam."""
    from genai_batch_processor_spark.sources import index_store
    from genai_batch_processor_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").limit(200)
    index = dedup.minhash_index(docs, "doc_id", "text")
    path = str(tmp_path / "mh_index")
    index_store.save_minhash_index(index, path)
    loaded = index_store.load_minhash_index(spark, path)
    assert dict(loaded.dtypes)["hs"] == dict(index.dtypes)["hs"]

    new_docs = docs.limit(20).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
    )
    direct = {
        (r.id_a, r.id_b)
        for r in dedup.incremental_near_dup_pairs(
            index, new_docs, "doc_id", "text"
        ).collect()
    }
    via_disk = {
        (r.id_a, r.id_b)
        for r in dedup.incremental_near_dup_pairs(
            loaded, new_docs, "doc_id", "text"
        ).collect()
    }
    assert via_disk == direct
    assert len(direct) >= 20  # every re-keyed copy pairs its original
    # only new-sided pairs: the larger id always lives in the new space
    assert all(b >= 5_000_000 for _, b in direct)


def test_minhash_index_version_guard(spark, tmp_path):
    import pytest

    from pyspark.sql import functions as F

    from genai_batch_processor_spark.sources import index_store

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    index = dedup.minhash_index(df, "doc_id", "text")
    path = str(tmp_path / "mh_bad")
    index_store.save_minhash_index(index, path)
    bad = spark.read.parquet(path).withColumn(
        "format_version", F.lit(99)
    )
    bad.write.mode("overwrite").partitionBy("band").parquet(
        str(tmp_path / "mh_bad2")
    )
    with pytest.raises(ValueError, match="format_version"):
        index_store.load_minhash_index(spark, str(tmp_path / "mh_bad2"))


def test_incremental_probe_filters_replayed_id_self_match(spark):
    """A batch doc whose id ALREADY EXISTS in the index (replay) must
    pair with other docs but never with itself (round-4 review: the
    probe join would otherwise emit id_a == id_b rows)."""
    text = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [(5, text), (6, text)], "doc_id long, text string"
    )
    index = dedup.minhash_index(corpus, "doc_id", "text")
    replay = spark.createDataFrame([(5, text)], "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in dedup.incremental_near_dup_pairs(
            index, replay, "doc_id", "text"
        ).collect()
    }
    assert got == {(5, 6)}


def _tiny_centroids(emb, k: int = 2) -> list[tuple[int, list[float]]]:
    """Deterministic toy centroid set: the first k embedding vectors.
    Enough to exercise cell assignment without training."""
    rows = emb.orderBy("vec_id").limit(k).collect()
    return [
        (i, [float(x) for x in r["embedding"]]) for i, r in enumerate(rows)
    ]


def test_embedding_index_roundtrip_and_incremental_probe(
    spark, sf_dir, tmp_path
):
    """The persisted embedding cell index round-trips through parquet
    (cell-partitioned, version- AND centroid-fingerprint-guarded) and
    an incremental probe against the LOADED index matches probing the
    in-memory one — the ANN twin of the MinHash train-once /
    ingest-many seam (round-6 verdict item 2)."""
    from genai_batch_processor_spark.sources import index_store

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    cents = _tiny_centroids(emb)
    index = similarity.embedding_cell_index(emb, cents)
    path = str(tmp_path / "emb_index")
    index_store.save_embedding_index(index, cents, path)
    loaded = index_store.load_embedding_index(spark, path, cents)
    assert dict(loaded.dtypes)["embedding"] == dict(index.dtypes)["embedding"]

    batch = emb.limit(20).select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding"
    )
    direct = {
        (r.id_a, r.id_b)
        for r in similarity.incremental_embedding_pairs(
            index, batch, cents, threshold=0.99, max_cell=1000
        ).collect()
    }
    via_disk = {
        (r.id_a, r.id_b)
        for r in similarity.incremental_embedding_pairs(
            loaded, batch, cents, threshold=0.99, max_cell=1000
        ).collect()
    }
    assert via_disk == direct
    assert len(direct) >= 20  # every re-keyed copy pairs its original
    # only new-sided pairs: the larger id always lives in the new space
    assert all(b >= 5_000_000 for _, b in direct)


def test_embedding_index_refuses_mismatched_centroids(spark, sf_dir, tmp_path):
    """Loading with a DIFFERENT centroid set than the index was built
    under must raise naming the mismatch — cell ids are meaningless
    across centroid sets, and the probe would otherwise return silently
    wrong pairs (the exact failure the fingerprint guard exists for)."""
    import pytest

    from genai_batch_processor_spark.sources import index_store

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    cents = _tiny_centroids(emb, k=2)
    retrained = _tiny_centroids(emb, k=3)  # a "newer" training run
    path = str(tmp_path / "emb_fp")
    index_store.save_embedding_index(
        similarity.embedding_cell_index(emb, cents), cents, path
    )
    with pytest.raises(ValueError, match="centroid set"):
        index_store.load_embedding_index(spark, path, retrained)
    # the matching set still loads
    assert index_store.load_embedding_index(spark, path, cents).count() == 50


def test_embedding_index_stale_cell_counts_guard(spark, sf_dir, tmp_path):
    """A takedown that erases rows without refreshing ``cell_n`` must
    be refused at load (the stored count lies about the cell
    population), also when it touches one cell only, whichever cell
    that is; with_cell_counts + re-save is the documented repair."""
    import pytest

    from genai_batch_processor_spark.sources import index_store

    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    cents = _tiny_centroids(emb)
    path = str(tmp_path / "emb_stale")
    index_store.save_embedding_index(
        similarity.embedding_cell_index(emb, cents), cents, path
    )
    # naive takedown: keep ONE row per cell, stored cell_n untouched —
    # whichever cell the loader witnesses is stale
    naive = (
        spark.read.parquet(path)
        .dropDuplicates(["cell"])
    )
    stale_path = str(tmp_path / "emb_stale2")
    naive.write.mode("overwrite").partitionBy("cell").parquet(stale_path)
    with pytest.raises(ValueError, match="STALE"):
        index_store.load_embedding_index(spark, stale_path, cents)
    # erase one row of one cell, every other cell untouched
    full = spark.read.parquet(path)
    victims = (
        full.filter("cell_n >= 2")
        .groupBy("cell")
        .agg(F.min("vec_id").alias("vec_id"))
        .collect()
    )
    assert len(victims) == 2
    for v in victims:
        one_cell = str(tmp_path / f"emb_stale_cell{v.cell}")
        full.filter(
            (F.col("cell") != v.cell) | (F.col("vec_id") != v.vec_id)
        ).write.partitionBy("cell").parquet(one_cell)
        with pytest.raises(ValueError, match=f"STALE: cell {v.cell} "):
            index_store.load_embedding_index(spark, one_cell, cents)
    # repair: refresh counts, re-save, loads clean
    repaired = similarity.with_cell_counts(
        index_store.load_embedding_index(
            spark, stale_path, cents, check_cell_counts=False
        )
    )
    repaired_path = str(tmp_path / "emb_repaired")
    index_store.save_embedding_index(repaired, cents, repaired_path)
    out = index_store.load_embedding_index(spark, repaired_path, cents)
    assert out.count() == out.select("cell").distinct().count()


def test_embedding_index_version_guard(spark, sf_dir, tmp_path):
    import pytest

    from genai_batch_processor_spark.sources import index_store

    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    cents = _tiny_centroids(emb)
    path = str(tmp_path / "emb_v")
    index_store.save_embedding_index(
        similarity.embedding_cell_index(emb, cents), cents, path
    )
    bad = spark.read.parquet(path).withColumn("format_version", F.lit(99))
    bad_path = str(tmp_path / "emb_v2")
    bad.write.mode("overwrite").partitionBy("cell").parquet(bad_path)
    with pytest.raises(ValueError, match="format_version"):
        index_store.load_embedding_index(spark, bad_path, cents)


def test_embedding_index_save_refuses_string_ids(spark, sf_dir, tmp_path):
    """cast('long') on a string vec_id would silently NULL every id —
    the store must refuse instead (same contract as the MinHash
    store)."""
    import pytest

    from genai_batch_processor_spark.sources import index_store

    emb = load_table(spark, sf_dir, "embeddings").limit(5)
    cents = _tiny_centroids(emb)
    index = similarity.embedding_cell_index(
        emb.select(
            F.concat(F.lit("v-"), F.col("vec_id")).alias("vec_id"),
            "embedding",
        ),
        cents,
    )
    with pytest.raises(ValueError, match="integral"):
        index_store.save_embedding_index(
            index, cents, str(tmp_path / "bad")
        )


def test_minhash_index_save_refuses_string_ids(spark, tmp_path):
    """cast('long') on a string id would silently NULL every id —
    the store must refuse instead."""
    import pytest

    from genai_batch_processor_spark.sources import index_store

    df = spark.createDataFrame(
        [("doc-a", "a b c d e")], "doc_id string, text string"
    )
    index = dedup.minhash_index(df, "doc_id", "text")
    with pytest.raises(ValueError, match="integral"):
        index_store.save_minhash_index(index, str(tmp_path / "bad"))


def test_assign_cells_arrow_agrees_with_literal_path(spark, sf_dir):
    """The large-k Arrow argmin (raise-k scale path) must assign every
    vector to the same cell as the oracle-exact literal-centroid path,
    on real fixture vectors and on an exact-duplicate tie."""
    from pyspark.sql import functions as F

    from genai_batch_processor_spark.operators import clustering
    from genai_batch_processor_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = clustering.centroids_from_cells(
        clustering.kmeans_cells(emb, k=8)
    )
    lit = {
        r.vec_id: r.cell
        for r in clustering.assign_cells(emb, cents).collect()
    }
    arr = {
        r.vec_id: r.cell
        for r in clustering.assign_cells_arrow(emb, cents).collect()
    }
    assert lit == arr and len(lit) == emb.count()
    # duplicate vectors (the one systematic tie source) land together
    dup = emb.limit(1).unionByName(
        emb.limit(1).withColumn("vec_id", F.lit(999_999).cast("long"))
    )
    cells = {
        r.cell for r in clustering.assign_cells_arrow(dup, cents).collect()
    }
    assert len(cells) == 1

    # arrow-trained k-means must reproduce the literal-trained cells
    via_arrow = clustering.kmeans_cells(emb, k=8, arrow=True)
    via_lit = clustering.kmeans_cells(emb, k=8)
    a = {(r.cell, r.dim): (r.n_vecs, round(r.c_val, 9))
         for r in via_arrow.collect()}
    b = {(r.cell, r.dim): (r.n_vecs, round(r.c_val, 9))
         for r in via_lit.collect()}
    assert a == b


def test_minhash_calibration_invariants(spark):
    """Estimator-audit invariants on a constructed corpus: exact
    duplicates must land in the top decile with true == est == 1000;
    all milli values bounded; deciles within [0, 10]."""
    from genai_batch_processor_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact duplicate: jaccard == estimate == 1
            (3, base.replace("zeta", "nu")),
            (4, "completely different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.minhash_calibration_pairs(docs, "doc_id", "text").collect()
    by_pair = {(r.id_a, r.id_b): r for r in rows}
    assert by_pair[(1, 2)].true_milli == 1000
    assert by_pair[(1, 2)].est_milli == 1000
    for r in rows:
        assert 0 <= r.true_milli <= 1000 and 0 <= r.est_milli <= 1000


def test_minhash_calibration_null_text_parity(spark):
    """Round-5 advice pin: >=2 NULL-text docs must NOT pair with each
    other (a NULL signature would band to the shared hash60('') key
    while the DuckDB twin's NULL band key never joins) — the full
    decile report must hash-match the oracle on a NULL-bearing corpus,
    with no spurious est_decile=NULL group on the Spark side."""
    import duckdb

    from genai_batch_processor_spark import oracles, queries as q
    from tests.util import assert_matches_oracle

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = [
        (1, base),
        (2, base),
        (3, base.replace("zeta", "nu")),
        (4, None),
        (5, None),  # two NULL docs: the spurious-pair trigger
        (6, None),
        (7, "unrelated words entirely disjoint from everything else"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    report = q.calibration_report(docs)
    assert (
        report.filter(F.col("est_decile").isNull()).count() == 0
    ), "NULL-text docs paired with each other"

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM (VALUES "
            + ", ".join(
                f"({i}, {'NULL' if t is None else repr(t)})"
                for i, t in corpus
            )
            + ") AS t(doc_id, text)"
        )
        assert_matches_oracle(
            report, con, oracles.ORACLES["minhash_calibration"]
        )
    finally:
        con.close()


def test_chunk_dedup_stats_sees_repeated_boilerplate(spark, sf_dir):
    """A doc built from another doc's chunks must raise the global
    dup-chunk count; stats stay internally consistent."""
    from genai_batch_processor_spark import queries as q

    out = {r.source: r for r in q.q_chunk_dedup_stats(spark, sf_dir).collect()}
    assert len(out) == 20
    for r in out.values():
        assert 0 <= r.n_dup_chunks <= r.n_chunks
        assert r.dup_ppm == r.n_dup_chunks * 1_000_000 // r.n_chunks


def test_eval_decontamination_invariants(spark, sf_dir):
    """Repair-step invariants: train never shrinks, per-split totals
    match the corpus, and every evicted doc really has a train-side
    near-dup partner."""
    from genai_batch_processor_spark import queries as q
    from genai_batch_processor_spark.operators import sampling

    rows = {r.split: r for r in q.q_eval_decontamination(spark, sf_dir).collect()}
    assert set(rows) == {"train", "val", "test"}
    assert rows["train"].n_evicted == 0  # training data stays
    docs = load_table(spark, sf_dir, "documents")
    per_split = {
        r.split: r.n
        for r in docs.select(
            sampling.assign_split("doc_id").alias("split")
        ).groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for s, r in rows.items():
        assert r.n_docs == per_split[s]
        assert r.n_kept == r.n_docs - r.n_evicted
        assert 0 <= r.n_evicted <= r.n_docs


def test_incremental_embedding_probe_invariants(spark):
    """ANN-ingest probe invariants on a constructed corpus: every
    re-ingested vector pairs with its exact twin at cosine 1.0, pairs
    always involve >= 1 new id, old-old pairs never appear, and the
    combined (index + batch) cell cap drops an overfull cell's pairs
    entirely (matching a from-scratch run under the same cap) — also
    when the index rows alone fill the cap (they ship no payload), and
    when the probe view is two sources each under the cap whose rows
    together are over it."""
    from genai_batch_processor_spark.operators import similarity

    # two well-separated directions -> two stable cells
    base = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.99, 0.01]),
    ]
    emb = spark.createDataFrame(
        base, "vec_id long, embedding array<float>"
    )
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    index = similarity.embedding_cell_index(emb, cents)
    batch = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = similarity.incremental_embedding_pairs(
        index, batch, cents, threshold=0.9
    ).collect()
    pairs = {(r.id_a, r.id_b): r.cosine for r in rows}
    assert pairs[(0, 100)] == 1.0 and pairs[(2, 101)] == 1.0
    assert all(b >= 100 for _, b in pairs)  # new-sided, id_a < id_b
    # the two batch vectors land in different cells, so no new-new
    # pair can exist in this construction (id_a >= 100 would mean one)
    assert not any(a >= 100 for a, _ in pairs)
    # near-twin also caught within the cell
    assert (1, 100) in pairs and pairs[(1, 100)] >= 0.9

    # combined cap: cell 0 holds 2 old + 1 new = 3 > max_cell=2 -> all
    # its pairs drop; cell 1 (2 old + 1 new) with max_cell=3 survives
    capped = similarity.incremental_embedding_pairs(
        index, batch, cents, threshold=0.9, max_cell=2
    ).collect()
    assert capped == []
    part = {
        (r.id_a, r.id_b)
        for r in similarity.incremental_embedding_pairs(
            index, batch, cents, threshold=0.9, max_cell=3
        ).collect()
    }
    assert (0, 100) in part and (2, 101) in part

    def probe(view, max_cell, new=batch):
        return {
            (r.id_a, r.id_b)
            for r in similarity.incremental_embedding_pairs(
                view, new, cents, threshold=0.9, max_cell=max_cell
            ).collect()
        }

    # a batch that delivers every vector twice: same pairs, and no
    # vector pairs with its own second copy
    assert probe(index, 4, batch.unionByName(batch)) == set(pairs)
    cell1 = {p for p in pairs if p[1] == 101}
    assert cell1 == {(2, 101), (3, 101)}
    # hot cell: cell 0's index rows fill the cap on their own (cell_n =
    # 3 >= max_cell = 3), so batch vectors 100 and 102 pair with
    # nothing there, not even each other (the payload-less rows still
    # count); cell 1 (2 old + 1 new) keeps exactly its uncapped pairs
    hot = similarity.embedding_cell_index(
        emb.unionByName(
            spark.createDataFrame([(4, [0.98, 0.02, 0.0])], emb.schema)
        ),
        cents,
    )
    assert {r.cell_n for r in hot.filter("cell = 0").collect()} == {3}
    twins = batch.unionByName(
        spark.createDataFrame([(102, [1.0, 0.0, 0.0])], batch.schema)
    )
    assert probe(hot, 3, twins) == cell1
    assert (100, 102) in probe(hot, 6, twins)
    # two-source probe view (corpus index + an earlier epoch's rows,
    # as the streaming drain probes): 2 rows of cell 0 in each source,
    # each under max_cell = 4, but 2 + 2 + 1 batch row = 5 rows drop
    # the cell; with room for 5 it pairs with both sources' rows
    epoch = similarity.embedding_cell_index(
        spark.createDataFrame(
            [(10, [1.0, 0.0, 0.0]), (11, [0.99, 0.0, 0.01])], emb.schema
        ),
        cents,
    )
    view = index.unionByName(epoch)
    assert probe(view, 4) == cell1
    cell0 = {(0, 100), (1, 100), (10, 100), (11, 100)}
    assert probe(view, 5) == cell1 | cell0


def test_incremental_embedding_probe_degenerate_vectors(spark):
    """Zero-norm and NULL vectors must flow through the ANN-ingest
    probe without aborting (ANSI: try_divide parity) and never pair —
    NULL cosines drop at the threshold on both probe sides."""
    from genai_batch_processor_spark.operators import similarity

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, None), (3, [0.99, 0.01])],
        "vec_id long, embedding array<float>",
    )
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    idx = similarity.embedding_cell_index(emb, cents)
    batch = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 0.0]), (102, None)],
        "vec_id long, embedding array<float>",
    )
    rows = similarity.incremental_embedding_pairs(
        idx, batch, cents, threshold=0.9
    ).collect()
    got = sorted((r.id_a, r.id_b) for r in rows)
    assert got == [(0, 100), (3, 100)]  # degenerate rows never pair


def test_embedding_index_mixed_generation_guard(spark, sf_dir, tmp_path):
    """Two concatenated index GENERATIONS in one cell — each row group
    internally consistent with its own cell_n — must still be refused
    at load: every recorded count lies about the actual cell
    population even though no cell_n group disagrees with its own
    value (a guard that groups BY cell_n passes this exact
    corruption; the total-vs-recorded compare catches it)."""
    import pytest

    from genai_batch_processor_spark.sources import index_store

    emb = load_table(spark, sf_dir, "embeddings").limit(60)
    cents = _tiny_centroids(emb)
    idx = similarity.embedding_cell_index(emb, cents)
    base = idx.orderBy("vec_id").limit(5).collect()
    cell0 = base[0]["cell"]
    rows = []
    for i, r in enumerate(base):
        d = r.asDict()
        d["cell"] = cell0
        d["cell_n"] = 2 if i < 2 else 3  # gen A: 2 rows @2, gen B: 3 @3
        rows.append(d)
    mixed = spark.createDataFrame(rows, idx.schema)
    path = str(tmp_path / "emb_mixed")
    index_store.save_embedding_index(mixed, cents, path)
    with pytest.raises(ValueError, match="STALE"):
        index_store.load_embedding_index(spark, path, cents)


def test_ivf_recall_sweep_monotone(spark, sf_dir):
    """Round-9 verdict item 6: the trained-IVF recall/cost knob sweep
    must report one exact recall row per n_probe ∈ {1, 2, 4}, monotone
    non-decreasing in n_probe (more probed cells can only grow the
    candidate superset toward the brute-force truth), each probing
    returning the full k rows per query."""
    from genai_batch_processor_spark import queries

    rows = (
        queries.QUERIES["ivf_recall_sweep"](spark, sf_dir)
        .orderBy("n_probe")
        .collect()
    )
    assert [r["n_probe"] for r in rows] == [1, 2, 4]
    recalls = [r["recall"] for r in rows]
    assert recalls == sorted(recalls)  # monotone in n_probe
    assert all(0.0 < r <= 1.0 for r in recalls)
    assert len({r["n_truth"] for r in rows}) == 1  # shared denominator
