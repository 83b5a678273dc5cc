"""Property-based tests (hypothesis): both distributed connected-
components algorithms must agree with a pure-Python union-find on
arbitrary random pair graphs — not just the shapes we thought to write
down. Spark jobs are slow per example, so the example budget is small
and the graphs are bounded; hypothesis still explores chains, stars,
cliques, self-loops, duplicate edges, and disconnected islands far more
ruthlessly than hand-picked cases."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from genai_batch_processor_spark.operators import dedup


def union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_components_match_union_find(spark, edges):
    # both operators drop self-loops (a node paired only with itself is
    # not a duplicate) — the reference union-find sees the same edges
    real_edges = [(a, b) for a, b in edges if a != b]
    expected = union_find(real_edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    # driver_edge_bound=0 forces the DISTRIBUTED paths; the default
    # fast paths of BOTH operators are asserted against this test's
    # own (independent) union_find below
    lp = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(
            pairs, max_iter=40, driver_edge_bound=0
        ).collect()
    }
    star = {
        r.doc_id: r.component_id
        for r in dedup.connected_components_star(
            pairs, driver_edge_bound=0
        ).collect()
    }
    fast_star = {
        r.doc_id: r.component_id
        for r in dedup.connected_components_star(pairs).collect()
    }
    fast_lp = {
        r.doc_id: r.component_id
        for r in dedup.connected_components(pairs).collect()
    }
    assert lp == expected
    assert star == expected
    assert fast_star == expected
    assert fast_lp == expected


# -- as-of join vs pandas merge_asof -----------------------------------------

import pandas as pd

from genai_batch_processor_spark.operators import temporal

asof_frames = st.tuples(
    # left rows: (key, ts_us)
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=10,
    ),
    # right rows: (key, ts_us, value)
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=99),
        ),
        min_size=1,
        max_size=10,
    ),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(frames=asof_frames, direction=st.sampled_from(["backward", "forward"]))
def test_asof_join_matches_pandas_merge_asof(spark, frames, direction):
    left_rows, right_rows = frames
    # unique ts per (key, side): merge_asof tie order is input-order
    # dependent, ours is seq-based — dedupe so ties cannot occur
    left_rows = list({(k, t): None for k, t in left_rows})
    right_rows = list(
        {(k, t): (k, t, v) for k, t, v in right_rows}.values()
    )

    from pyspark.sql import functions as F

    left = (
        spark.createDataFrame(left_rows, "k long, us long")
        .withColumn("ts", F.timestamp_micros("us"))
        .select("k", "ts", "us")
    )
    right = (
        spark.createDataFrame(right_rows, "k long, us long, v long")
        .withColumn("ts", F.timestamp_micros("us"))
        .select("k", "ts", "v")
    )
    out = temporal.asof_join(
        left,
        right,
        on="k",
        right_cols=["v"],
        direction=direction,
        how="left",
    )
    got = {
        (r.k, r.us): r.asof_v for r in out.collect()
    }

    lp = pd.DataFrame(left_rows, columns=["k", "us"]).sort_values("us")
    rp = pd.DataFrame(
        right_rows, columns=["k", "us", "v"]
    ).sort_values("us")
    merged = pd.merge_asof(
        lp, rp, on="us", by="k", direction=direction
    )
    want = {
        (int(r.k), int(r.us)): (None if pd.isna(r.v) else int(r.v))
        for r in merged.itertuples()
    }
    assert got == want


# -- shard planner caps on arbitrary size profiles ---------------------------

byte_profiles = st.lists(
    st.integers(min_value=0, max_value=5_000),
    min_size=1,
    max_size=60,
)


@given(sizes=byte_profiles, max_lines=st.integers(2, 7))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_plan_shards_caps_hold_for_any_profile(spark, sizes, max_lines):
    """For ANY per-row byte profile (including zero-byte rows and rows
    bigger than the byte cap): each shard stays within the line cap,
    within bytes+one-row slack, and covers a contiguous id run."""
    from pyspark.sql import functions as F

    from genai_batch_processor_spark.operators import batching

    max_bytes = 6_000
    rows = [(i, n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "idx long, n_bytes long")
    if len(sizes) >= 2:
        bucket = batching._ordinal_bucket(df, "idx")
        assert df.select(bucket).distinct().count() >= 2
    planned = batching.plan_shards(
        df,
        id_col="idx",
        bytes_col="n_bytes",
        max_lines=max_lines,
        max_bytes=max_bytes,
    )
    per_shard = planned.groupBy("shard_key").agg(
        F.count("*").alias("n"),
        F.sum("n_bytes").alias("bytes"),
        F.max("n_bytes").alias("max_row"),
        F.min("idx").alias("lo"),
        F.max("idx").alias("hi"),
    ).collect()
    assert sum(r["n"] for r in per_shard) == len(sizes)
    for r in per_shard:
        assert r["n"] <= max_lines
        assert r["bytes"] <= max_bytes, "strict cap violated"
        assert r["hi"] - r["lo"] + 1 == r["n"]


@given(sizes=byte_profiles, max_lines=st.integers(2, 7))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_plan_shards_token_caps_hold_for_any_profile(
    spark, sizes, max_lines
):
    """r12 verdict item 2: with a token budget, ALL THREE caps hold
    strictly for ANY per-row profile (tokens derived as a skewed
    function of bytes so the two dimensions bind at different rows)."""
    from pyspark.sql import functions as F

    from genai_batch_processor_spark.operators import batching

    max_bytes, max_tokens = 6_000, 1_500
    rows = [(i, n, (n * 7) % 1_400) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "idx long, n_bytes long, n_tokens long")
    if len(sizes) >= 2:
        bucket = batching._ordinal_bucket(df, "idx")
        assert df.select(bucket).distinct().count() >= 2
    planned = batching.plan_shards(
        df,
        id_col="idx",
        bytes_col="n_bytes",
        max_lines=max_lines,
        max_bytes=max_bytes,
        tokens_col="n_tokens",
        max_tokens=max_tokens,
    )
    per_shard = planned.groupBy("shard_key").agg(
        F.count("*").alias("n"),
        F.sum("n_bytes").alias("bytes"),
        F.sum("n_tokens").alias("tokens"),
        F.min("idx").alias("lo"),
        F.max("idx").alias("hi"),
    ).collect()
    assert sum(r["n"] for r in per_shard) == len(sizes)
    for r in per_shard:
        assert r["n"] <= max_lines
        assert r["bytes"] <= max_bytes, "strict byte cap violated"
        assert r["tokens"] <= max_tokens, "strict token cap violated"
        assert r["hi"] - r["lo"] + 1 == r["n"]


# -- incremental near-dup == from-scratch (new-sided restriction) ------------

_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon"])
_doc = st.lists(_word, min_size=4, max_size=12).map(" ".join)
_corpora = st.lists(_doc, min_size=2, max_size=14)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(old=_corpora, new=_corpora)
def test_incremental_probe_matches_from_scratch(spark, old, new):
    """For ANY corpus split, probing the old corpus's band index with
    the new batch yields exactly the from-scratch near-dup pairs over
    the union restricted to pairs with a new side. (Caps can't fire:
    the generated corpora are far below MAX_BUCKET.)"""
    offset = 1000
    old_df = spark.createDataFrame(
        list(enumerate(old)), "doc_id long, text string"
    )
    new_df = spark.createDataFrame(
        [(offset + i, t) for i, t in enumerate(new)],
        "doc_id long, text string",
    )
    index = dedup.minhash_index(old_df, "doc_id", "text")
    inc = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.incremental_near_dup_pairs(
            index, new_df, "doc_id", "text"
        ).collect()
    }
    scratch = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.near_dup_pairs(
            old_df.unionByName(new_df), "doc_id", "text"
        ).collect()
        if r.id_b >= offset
    }
    assert inc == scratch


# each planted text goes into the old corpus and the new batch a chosen
# number of times, so identical copies share every band bucket and the
# combined bucket size (old copies + new copies) crosses small caps
_planted = st.lists(
    st.tuples(_doc, st.integers(0, 3), st.integers(0, 3)),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(planted=_planted, max_bucket=st.sampled_from([2, 3, 4]))
def test_incremental_probe_matches_from_scratch_under_cap_pressure(
    spark, planted, max_bucket
):
    """The variant of the property above whose caps DO fire: repeated
    copies fill buckets past ``max_bucket`` in {2, 3, 4}. The probe's
    combined-bucket cap (old ``bucket_n`` + batch count, per pair side)
    must drop exactly the pairs a from-scratch run over the union
    drops, restricted to new-sided pairs."""
    offset = 1000
    old = [t for t, n_old, _ in planted for _ in range(n_old)]
    new = [t for t, _, n_new in planted for _ in range(n_new)]
    old_df = spark.createDataFrame(
        list(enumerate(old)), "doc_id long, text string"
    )
    new_df = spark.createDataFrame(
        [(offset + i, t) for i, t in enumerate(new)],
        "doc_id long, text string",
    )
    index = dedup.minhash_index(old_df, "doc_id", "text")
    inc = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.incremental_near_dup_pairs(
            index, new_df, "doc_id", "text", max_bucket=max_bucket
        ).collect()
    }
    scratch = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.near_dup_pairs(
            old_df.unionByName(new_df),
            "doc_id",
            "text",
            max_bucket=max_bucket,
        ).collect()
        if r.id_b >= offset
    }
    assert inc == scratch


def test_incremental_probe_caps_across_index_sources(spark):
    """A probe view that unions two sources — as the streaming drain
    unions the corpus index with an earlier epoch's rows — holds one
    key under two build-time counts (3 and 1 here). With a batch of 2
    and ``max_bucket=3``: old-new pairs are capped per old row (only
    the count-1 row pairs), and new-new pairs stand because the
    SMALLEST old count fits (2 + 1 <= 3)."""
    text = "alpha beta gamma delta epsilon"
    schema = "doc_id long, text string"

    def index_of(ids):
        return dedup.minhash_index(
            spark.createDataFrame([(i, text) for i in ids], schema),
            "doc_id",
            "text",
        )

    index = index_of([0, 1, 2]).unionByName(index_of([10]))
    new_df = spark.createDataFrame([(1000, text), (1001, text)], schema)
    got = {
        (r.id_a, r.id_b)
        for r in dedup.incremental_near_dup_pairs(
            index, new_df, "doc_id", "text", max_bucket=3
        ).collect()
    }
    assert got == {(10, 1000), (10, 1001), (1000, 1001)}


# -- blocked linkage == brute force within blocks ----------------------------

_name = st.lists(
    st.sampled_from(["red", "blue", "bolt", "gear", "ring", "rang"]),
    min_size=1,
    max_size=3,
).map(" ".join)
_catalog = st.lists(
    st.tuples(_name, st.sampled_from(["B1", "B2"])),
    min_size=2,
    max_size=12,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_catalog, max_distance=st.integers(0, 4))
def test_blocked_pairs_match_bruteforce(spark, rows, max_distance):
    """With the cap disabled, blocked_pairs equals the brute-force
    pair set among same-block rows at the distance threshold."""
    from genai_batch_processor_spark.operators import linkage

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    df = spark.createDataFrame(
        [(i, nm, blk) for i, (nm, blk) in enumerate(rows)],
        "k long, name string, block string",
    )
    got = {
        (r.a_key, r.b_key, r.distance)
        for r in linkage.blocked_pairs(
            df, "k", "name", ["block"],
            max_distance=max_distance, max_block=10_000,
        ).collect()
    }
    want = {
        (i, j, lev(na, nb))
        for i, (na, ba) in enumerate(rows)
        for j, (nb, bb) in enumerate(rows)
        if i < j and ba == bb and lev(na, nb) <= max_distance
    }
    assert got == want


_varied_name = st.lists(
    st.sampled_from(
        ["red", "blue", "bolt", "gear", "ring", "rang", "a", "ab",
         "carbide", "x"]
    ),
    min_size=1,
    max_size=4,
).map(" ".join)
_varied_catalog = st.lists(
    st.tuples(_varied_name, st.sampled_from(["B1", "B2"])),
    min_size=2,
    max_size=14,
)


def _with_bands(spark, rows):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(i, nm, blk) for i, (nm, blk) in enumerate(rows)],
        "k long, name string, block string",
    ).select(
        "k",
        "name",
        "block",
        (F.length("name") / 4).cast("int").alias("band_a"),
        ((F.length("name") + 2) / 4).cast("int").alias("band_b"),
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_varied_catalog)
def test_multi_pass_blocking_recall_exact_without_cap(spark, rows):
    """The length-band pass pair (width 4, offset 2) is recall-EXACT
    for Levenshtein <= 2 (round-6 verdict item 4): with the cap
    disabled, the union of the two band passes equals the single
    coarse-block pass on ANY catalog — the band cut points are 2 apart
    so no pair with |len(a)-len(b)| <= 2 is split by both passes, and
    distance <= 2 forces exactly that length bound."""
    from genai_batch_processor_spark.operators import linkage

    df = _with_bands(spark, rows)
    single = {
        (r.a_key, r.b_key, r.distance)
        for r in linkage.blocked_pairs(
            df, "k", "name", ["block"], max_distance=2, max_block=10_000
        ).collect()
    }
    multi = {
        (r.a_key, r.b_key, r.distance)
        for r in linkage.multi_pass_pairs(
            df,
            "k",
            "name",
            ["block"],
            [["band_a"], ["band_b"]],
            max_distance=2,
            max_block=10_000,
        ).collect()
    }
    assert multi == single


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_varied_catalog, cap=st.integers(2, 6))
def test_multi_pass_blocking_superset_under_any_cap(spark, rows, cap):
    """Under ANY shared cap, multi-pass finds every pair the single
    pass finds (a band sub-block is never larger than its parent
    coarse block, so anything surviving the coarse cap survives the
    finer one) — plus possibly pairs from coarse blocks the cap
    dropped whose sub-blocks fit."""
    from genai_batch_processor_spark.operators import linkage

    df = _with_bands(spark, rows)
    single = {
        (r.a_key, r.b_key)
        for r in linkage.blocked_pairs(
            df, "k", "name", ["block"], max_distance=2, max_block=cap
        ).collect()
    }
    multi = {
        (r.a_key, r.b_key)
        for r in linkage.multi_pass_pairs(
            df,
            "k",
            "name",
            ["block"],
            [["band_a"], ["band_b"]],
            max_distance=2,
            max_block=cap,
        ).collect()
    }
    assert single <= multi


# -- ANN-ingest combined-cap at the boundary (round-6 verdict item 8) --------


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_old=st.tuples(st.integers(1, 4), st.integers(1, 4)),
    n_dup=st.tuples(st.integers(0, 3), st.integers(0, 3)),
    n_new=st.tuples(st.integers(0, 3), st.integers(0, 3)),
    delta=st.sampled_from([-1, 0, 1]),
)
def test_embedding_probe_cap_one_decision_per_cell_with_epoch_dups(
    spark, n_old, n_dup, n_new, delta
):
    """The adversarial case the streaming union makes possible
    (round-6 verdict item 8): identical index rows replayed across
    epochs land a cell exactly AT the combined cap boundary. The
    contract is ONE decision per cell — the cap counts index ROWS
    (replicas included; per-source cell_n CANNOT be summed without
    double-counting) plus batch rows, and a cell over the cap drops
    BOTH probe paths (old-new and new-new) while a cell at or under it
    keeps both. ``delta`` pins cell 0's combined population to
    cap-1 / cap / cap+1 every example; the expected pair set is
    recomputed in Python from the same row-counting rule."""
    from pyspark.sql import functions as F

    from genai_batch_processor_spark.operators import similarity

    axis = {0: [1.0, 0.0], 1: [0.0, 1.0]}
    cents = [(0, axis[0]), (1, axis[1])]
    old_rows = []
    for c in (0, 1):
        for i in range(n_old[c]):
            old_rows.append((50 * c + i, axis[c]))
    old = spark.createDataFrame(
        old_rows, "vec_id long, embedding array<float>"
    )
    index = similarity.embedding_cell_index(old, cents)
    # epoch replay: the FIRST n_dup[c] rows of each cell appear again,
    # verbatim (same vec_id, same embedding) — the shape a unioned
    # probe index takes when an earlier epoch's sunk batch index is
    # read back next to the corpus index
    dup_ids = [
        50 * c + i for c in (0, 1) for i in range(min(n_dup[c], n_old[c]))
    ]
    probe_index = index.unionByName(
        index.filter(F.col("vec_id").isin(dup_ids))
    )
    batch_rows = [
        (100 + 50 * c + i, axis[c])
        for c in (0, 1)
        for i in range(n_new[c])
    ]
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<float>"
    )
    rows_c = [n_old[c] + min(n_dup[c], n_old[c]) for c in (0, 1)]
    max_cell = max(1, rows_c[0] + n_new[0] + delta)

    got = {
        (r.id_a, r.id_b)
        for r in similarity.incremental_embedding_pairs(
            probe_index, batch, cents, threshold=0.9, max_cell=max_cell
        ).collect()
    }

    want = set()
    for c in (0, 1):
        if rows_c[c] + n_new[c] > max_cell:
            continue  # one decision: BOTH paths drop
        olds = [50 * c + i for i in range(n_old[c])]
        news = [100 + 50 * c + i for i in range(n_new[c])]
        want |= {(o, n) for o in olds for n in news}
        want |= {(a, b) for a in news for b in news if a < b}
    assert got == want
    # and per cell, all-or-nothing: pairs from a cell appear iff the
    # combined ROW population fit the cap (no half-applied cell)
    for c in (0, 1):
        cell_pairs = {p for p in got if (p[1] - 100) // 50 == c}
        if rows_c[c] + n_new[c] > max_cell:
            assert not cell_pairs
        elif n_new[c] and n_old[c]:
            assert cell_pairs


# -- scale-adaptive defaults (round-5 verdict item 1) ------------------------


@given(n=st.integers(0, 10**9), m=st.integers(0, 10**9))
@settings(max_examples=200, deadline=None)
def test_adaptive_defaults_monotone_and_bounded(n, m):
    """Every corpus-derived default is monotone in corpus size and
    clamped to [base, ceiling] — the heuristic can widen with the data
    but never narrow below the oracle-fixture base or blow past the
    bounded-quadratic ceiling."""
    from genai_batch_processor_spark.operators import clustering, dedup, linkage

    for fn, base, ceil in (
        (clustering.adaptive_k, clustering.KMEANS_K, clustering.KMEANS_K_MAX),
        (dedup.adaptive_max_bucket, dedup.MAX_BUCKET, dedup.MAX_BUCKET_CEIL),
        (linkage.adaptive_max_block, linkage.MAX_BLOCK, linkage.MAX_BLOCK_CEIL),
    ):
        lo, hi = sorted((n, m))
        assert fn(lo) <= fn(hi)  # monotone
        assert base <= fn(n) <= ceil  # clamped


def test_adaptive_defaults_fixture_scales_pinned():
    """At every oracle-checked fixture scale the adaptive defaults
    resolve to EXACTLY the historical constants (so recorded oracle
    hashes and the static kmeans twin stay valid), and at the
    generated sf1 sizes they resolve to the non-degenerate values the
    round-5 scale run demonstrated by hand."""
    from genai_batch_processor_spark.operators import clustering, dedup, linkage

    # embeddings: 500 (sf0.001/sf0.01), 2000 (sf0.1) -> KMEANS_K; 20000 (sf1) -> 80
    assert clustering.adaptive_k(500) == clustering.KMEANS_K
    assert clustering.adaptive_k(2000) == clustering.KMEANS_K
    assert clustering.adaptive_k(20000) == 80
    # documents: 500/5000 -> MAX_BUCKET; 50000 (sf1) -> 500
    assert dedup.adaptive_max_bucket(500) == dedup.MAX_BUCKET
    assert dedup.adaptive_max_bucket(5000) == dedup.MAX_BUCKET
    assert dedup.adaptive_max_bucket(50000) == 500
    # part: 2000/20000 -> MAX_BLOCK; 200000 (sf1) -> 1000
    assert linkage.adaptive_max_block(2000) == linkage.MAX_BLOCK
    assert linkage.adaptive_max_block(20000) == linkage.MAX_BLOCK
    assert linkage.adaptive_max_block(200000) == 1000
    # arrow auto-select: literal path at fixture k, Arrow at sf1 k
    assert clustering.KMEANS_K <= clustering.ARROW_AUTO_K < 80


# -- Misra-Gries heavy hitters vs exact group-by ------------------------------
#
# The sketch must be INVISIBLE in the answer: for any token stream, any
# partitioning, and any k, heavy_hitters == the exact
# GROUP BY ... HAVING count*(k+1) > total. The pure-Python compress step
# carries the guarantee, so it gets its own exhaustive check.

from collections import Counter

from genai_batch_processor_spark.functions import sketches

_token_streams = st.lists(
    # tiny alphabet + skewed repeats so heavy hitters actually exist
    st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
    min_size=1,
    max_size=300,
)


@given(stream=_token_streams, k=st.integers(1, 6), n_chunks=st.integers(1, 5))
def test_mg_summary_union_is_superset(stream, k, n_chunks):
    """Pure-Python model of pass 1: chunk the stream (a partition /
    batch boundary at every split), MG-compress each chunk's counts,
    union the survivors — every token above total/(k+1) must survive."""
    chunk = max(1, len(stream) // n_chunks)
    union: set = set()
    for i in range(0, len(stream), chunk):
        counts = dict(Counter(stream[i : i + chunk]))
        sketches._mg_compress(counts, k)
        assert len(counts) <= k
        assert all(c > 0 for c in counts.values())
        union |= counts.keys()
    total = len(stream)
    heavy = {t for t, c in Counter(stream).items() if c * (k + 1) > total}
    assert heavy <= union


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    stream=_token_streams,
    k=st.integers(1, 6),
    n_parts=st.integers(1, 4),
)
def test_heavy_hitters_match_exact_under_any_partitioning(
    spark, stream, k, n_parts
):
    tokens = spark.createDataFrame(
        [(t,) for t in stream], "token string"
    ).repartition(n_parts)
    got = {
        (r.token, r.cnt)
        for r in sketches.heavy_hitters(tokens, "token", k=k).collect()
    }
    total = len(stream)
    want = {
        (t, c) for t, c in Counter(stream).items() if c * (k + 1) > total
    }
    assert got == want


def test_mg_candidates_actually_compress(spark):
    """With k counters < vocabulary, pass 1 must emit FEWER candidates
    than the vocabulary (the bounded-state point of the sketch) while
    still keeping every true heavy hitter — pinned on a Zipf-ish corpus
    in one partition so per-partition state is actually exercised."""
    stream = (
        ["hot"] * 400
        + ["warm"] * 120
        + [f"tail{i}" for i in range(300) for _ in (0, 1)]
    )
    tokens = spark.createDataFrame(
        [(t,) for t in stream], "token string"
    ).coalesce(1)
    k = 9
    cands = {
        r.token for r in sketches.mg_candidates(tokens, "token", k).collect()
    }
    vocab = len(set(stream))
    assert len(cands) <= k < vocab
    total = len(stream)
    heavy = {
        t for t, c in Counter(stream).items() if c * (k + 1) > total
    }
    assert heavy <= cands


# -- Bloom-prefiltered decontamination vs the exact join ----------------------
#
# No false negatives by construction, and the residual exact join kills
# the false positives — so for ANY benchmark/corpus split the Bloom
# operator must equal contamination_hits exactly.

_doc_texts = st.lists(
    st.lists(
        st.sampled_from(["red", "blue", "green", "fox", "dog", "cat"]),
        min_size=0,
        max_size=8,
    ).map(" ".join),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(bench_texts=_doc_texts, corpus_texts=_doc_texts)
def test_bloom_decontamination_equals_exact(spark, bench_texts, corpus_texts):
    bench = spark.createDataFrame(
        [(i, t) for i, t in enumerate(bench_texts)], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(corpus_texts)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.n_hits)
        for r in dedup.bloom_contamination_hits(
            corpus, bench, "doc_id", "text", n=2
        ).collect()
    }
    want = {
        (r.doc_id, r.n_hits)
        for r in dedup.contamination_hits(
            corpus, bench, "doc_id", "text", n=2
        ).collect()
    }
    assert got == want


def test_bloom_bitmap_deterministic_and_sized(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} shared tail here") for i in range(30)],
        "doc_id long, text string",
    )
    a = dedup.bloom_bitmap(docs, "text", 3)
    b = dedup.bloom_bitmap(docs.repartition(7), "text", 3)
    assert a == b  # partitioning-independent
    assert len(a) == dedup.BLOOM_BITS // 64
    assert any(w != 0 for w in a)
    assert all(-(1 << 63) <= w < (1 << 63) for w in a)  # literal-safe int64


def test_adaptive_bloom_bits_monotone_and_clamped():
    """Corpus-derived sizing (the adaptive_* idiom): monotone in the
    benchmark size, floor/cap-clamped, power of two throughout, and the
    fixture-scale eval slice (~5.5k shingles) must keep today's 2^16 —
    pinning that adaptivity did not silently change the committed
    query's plan literal."""
    prev = 0
    for n in (1, 100, 5_500, 40_000, 10**6, 10**8):
        bits = dedup.adaptive_bloom_bits(n)
        assert bits >= prev
        assert bits & (bits - 1) == 0  # power of two
        assert dedup.BLOOM_BITS <= bits <= dedup.BLOOM_BITS_CAP
        prev = bits
    assert dedup.adaptive_bloom_bits(5_500) == dedup.BLOOM_BITS
    assert dedup.adaptive_bloom_bits(10**8) == dedup.BLOOM_BITS_CAP
    # cap respects the probe geometry: 3 windows must fit the 60-bit hash
    assert 3 * (dedup.BLOOM_BITS_CAP.bit_length() - 1) <= 60


def test_bloom_adaptive_widens_instead_of_saturating(spark):
    """A benchmark that saturates the floor-sized bitmap must get a
    wider one from the adaptive default — same exact answer, no
    warning — while an EXPLICIT undersized ``bits`` still warns loudly
    (the cap-hit scenario, where widening is no longer possible)."""
    import warnings

    import pytest as _pytest
    from pyspark.sql import functions as F

    # ~39k distinct shingles x 3 probes ≈ 117k positions: fill ≈ 0.83
    # at the 2^16 floor, ≈ 0.20 at the adaptive 2^19
    big = spark.createDataFrame(
        [(i, " ".join(f"u{i}w{j}" for j in range(40))) for i in range(1000)],
        "doc_id long, text string",
    )
    with _pytest.warns(RuntimeWarning, match="Bloom bitmap fill"):
        dedup.bloom_contamination_hits(
            big, big, "doc_id", "text", n=2, bits=dedup.BLOOM_BITS
        )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        dedup.bloom_contamination_hits(big.limit(10), big, "doc_id", "text", n=2)
    # and the committed query's eval slice does NOT warn
    from genai_batch_processor_spark import queries as _q
    from genai_batch_processor_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    is_bench = (F.col("doc_id") % _q.DECON_BLOOM_MOD == 3) & (
        F.col("doc_id") < _q.DECON_BLOOM_MAX_ID
    )
    bm = dedup.bloom_bitmap(docs.filter(is_bench), "text", _q.DECON_BLOOM_N)
    assert dedup.bloom_fill(bm) < dedup.BLOOM_FILL_WARN
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        dedup.bloom_contamination_hits(
            docs.filter(~is_bench),
            docs.filter(is_bench),
            "doc_id",
            "text",
            n=_q.DECON_BLOOM_N,
        )


_grouped_streams = st.lists(
    st.tuples(
        st.sampled_from(["g1", "g2", "g3"]),
        st.sampled_from(["a", "b", "c", "d", "e", "f"]),
    ),
    min_size=1,
    max_size=200,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(stream=_grouped_streams, k=st.integers(1, 5), n_parts=st.integers(1, 4))
def test_grouped_heavy_hitters_match_exact_under_any_partitioning(
    spark, stream, k, n_parts
):
    """Per-group MG: for any (group, token) stream, any partitioning,
    any k — grouped_heavy_hitters equals the exact per-group
    GROUP BY ... HAVING count*(k+1) > group_total."""
    tokens = spark.createDataFrame(
        stream, "g string, token string"
    ).repartition(n_parts)
    got = {
        (r.g, r.token, r.cnt)
        for r in sketches.grouped_heavy_hitters(
            tokens, "g", "token", k=k
        ).collect()
    }
    totals = Counter(g for g, _ in stream)
    counts = Counter(stream)
    want = {
        (g, t, c)
        for (g, t), c in counts.items()
        if c * (k + 1) > totals[g]
    }
    assert got == want
