"""Similarity search over ``array<float>`` embeddings (north-star,
SURVEY.md §2.D): brute-force cosine top-k as the exactness baseline and a
sign-bit LSH-bucketed variant as the scale path. Embedding near-dup pairs
ride the same bucketing.

Scale design (100 TB):
- brute force is queries × corpus: correct for a SMALL query set against
  a huge corpus — the query side is broadcast, so the corpus is scanned
  once with no shuffle, and per-query top-k is a windowed rank. Cost is
  O(|Q|·|C|) compute but O(0) shuffle of the corpus.
- the LSH variant buckets both sides by the sign pattern of the leading
  components (a deterministic coarse quantizer — IVF-style cells without
  trained centroids) and only scores within matching cells: compute drops
  to O(|Q|·|C|/2^bits) expected, at a documented recall cost (sign-LSH
  recall for moderate-cosine neighbors falls as bits grow; pick bits by
  corpus density). Candidate generation is an equi-join on the bucket id
  — shuffle on a single long key, AQE-skew-splittable.
- vector math is `zip_with`/`aggregate` column exprs (JVM, codegen) —
  no Python UDF in the hot path; Spark and DuckDB produce bit-identical
  doubles (verified), so ranking parity holds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from genai_batch_processor_spark.functions import vectors as V
from genai_batch_processor_spark.functions.exprs import array_pairs, cross_pairs
from genai_batch_processor_spark.functions.fanout import fan_out

TOPK_DEFAULT = 5
LSH_SIGN_BITS = 8
NEAR_DUP_COSINE = 0.35  # fixture-calibrated; see tools/ exploration
MAX_CELL = 64  # skew guard: near-dup cells bigger than this are dropped


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """rank ≤ k per query by (cosine desc, neighbor id asc) — ties broken
    deterministically so results are engine-portable. NULL cosines
    (zero-norm vectors under try_divide) never rank."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.filter(F.col("cosine").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


def topk_from_scored(scored: DataFrame, k: int = TOPK_DEFAULT) -> DataFrame:
    """Public top-k ranking over a prebuilt scored candidate relation
    ``(query_id, neighbor_id, cosine)`` — for callers that slice one
    shared scoring pass several ways (the probe-setting sweep filters
    ``scored_ivf_candidates`` per point) instead of re-scoring per
    variant. Same rank/tie semantics as every ``topk_*`` operator
    (r13 ADVICE: the sweep reached into the private helper)."""
    return _ranked_topk(scored, k)


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = TOPK_DEFAULT,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query side over the
    corpus scan; no corpus shuffle, per-query windowed rank."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            V.cosine(F.col("qvec"), F.col("nvec")).alias("cosine"),
        )
    )
    return _ranked_topk(scored, k)


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = TOPK_DEFAULT,
    sign_bits: int = LSH_SIGN_BITS,
) -> DataFrame:
    """Approximate top-k: score only within matching sign-bit cells.
    Same output shape as brute force; recall < 1 by design (scale path)."""
    bucket = V.sign_bits_bucket(F.col(vec_col), sign_bits)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        bucket.alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        bucket.alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            V.cosine(F.col("qvec"), F.col("nvec")).alias("cosine"),
        )
    )
    return _ranked_topk(scored, k)


def topk_bruteforce_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = TOPK_DEFAULT,
) -> DataFrame:
    """Exact cosine top-k via an Arrow-batched ``mapInPandas`` scorer —
    the documented escape hatch for metrics built-ins can't express
    (SURVEY.md §2.C UDF surface). Same contract and results as
    :func:`topk_bruteforce`; scoring is one numpy matmul per Arrow batch
    instead of per-row JVM expressions.

    Scale shape is identical to the JVM path: the (small, bounded) query
    side is collected once and closed over — the corpus is scanned once
    on its native partitioning, never shuffled, never collected; only
    the scored (query × batch) pairs leave the worker. Use this pattern
    when the metric needs BLAS/a model; prefer the column-expr path
    otherwise (no Python worker, no Arrow hop)."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows], dtype="int64")
    q_mat = np.array([list(r[vec_col]) for r in q_rows], dtype="float64")
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    n_q = len(q_ids)

    def score(batches):
        for pdf in batches:
            n_mat = np.array(
                [list(v) for v in pdf[vec_col]], dtype="float64"
            )
            n_norm = np.sqrt((n_mat * n_mat).sum(axis=1))
            # try_divide parity: a zero-norm vector must yield NULL (and be
            # dropped by _ranked_topk), not NaN — Spark ranks NaN ABOVE all
            # doubles, so an unmasked 0/0 would rank a zero vector first.
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (n_mat @ q_mat.T) / np.outer(n_norm, q_norm)
            nid = pdf[id_col].to_numpy(dtype="int64")
            flat = cos.ravel()
            keep = np.isfinite(flat)
            yield pd.DataFrame(
                {
                    "query_id": np.tile(q_ids, len(nid))[keep],
                    "neighbor_id": np.repeat(nid, n_q)[keep],
                    "cosine": flat[keep],
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    return _ranked_topk(
        scored.filter(F.col("neighbor_id") != F.col("query_id")), k
    )


IVF_CELLS = 16
IVF_PROBES = 4


def _cell_scores(vec, centroids: list[tuple[int, list[float]]]):
    """Array of (-cosine, cell) structs against literal centroids —
    array_sort ascending then puts the best cell (highest cosine, ties →
    lowest cell id) first. Pure per-row math: assignment needs NO
    shuffle and no join, which is the point of IVF at scale.

    The centroid table is one constant-folded array<struct<i,v>> literal
    and the scoring loop is a single ``transform`` — codegen emits the
    cosine body ONCE, instead of unrolling n_cells copies of a
    dim-element aggregate (which made compile time, not data, the
    bottleneck)."""
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("i"),
                F.array(*[F.lit(float(x)) for x in cv]).alias("v"),
            )
            for cid, cv in centroids
        ]
    )
    return F.array_sort(
        F.transform(
            cent_arr,
            lambda c: F.struct(
                (-V.cosine(vec, c["v"])).alias("nc"), c["i"].alias("i")
            ),
        )
    )


def topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = TOPK_DEFAULT,
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBES,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors are assigned to their
    nearest 'centroid' cell; queries probe their ``n_probe`` nearest
    cells and score only within them.

    Pass ``centroids`` (the (cell, vector) list
    ``operators/clustering.py:centroids_from_cells`` builds from a
    trained ``kmeans_cells`` relation) to search real IVF cells — the
    production path, where recall depends on trained cells. Without it,
    the first ``n_cells`` corpus vectors stand in deterministically
    (training is an offline step; the SEARCH dataflow is identical).
    Either way centroids live on the driver (tiny: n_cells × dim) and
    are inlined as literals, so cell assignment is shuffle-free per-row
    math. Expected compute drops to ~n_probe/n_cells of brute force;
    recall < 1 by design.
    """
    scored = scored_ivf_candidates(
        corpus, queries, id_col, vec_col, n_cells, n_probe, centroids
    )
    return _ranked_topk(
        scored.select("query_id", "neighbor_id", "cosine"), k
    )


def scored_ivf_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBES,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """The IVF candidate relation BEFORE top-k ranking: one row per
    (query, in-probed-cell neighbor) carrying ``probe_rank`` (1-based
    position of the neighbor's cell in the query's nearest-cell order)
    and the exact ``cosine``. ``topk_ivf`` is the probe_rank-agnostic
    rank filter over this; a probe-setting SWEEP filters
    ``probe_rank <= p`` per point instead of re-scoring per point —
    cells are disjoint (each corpus vector lives in exactly one cell),
    so the ``probe_rank <= p`` slice is EXACTLY the candidate set of a
    fresh n_probe=p run. Sharing the scored relation across sweep
    points removes the duplicated centroid-literal trees from the plan
    (Catalyst planning cost is tree-size-proportional) and scores each
    candidate once (optimization round 13: ivf_recall_sweep 4.8 s ->
    2.7 s at sf0.1, results bit-identical)."""
    cents = centroids if centroids is not None else [
        (r[id_col], list(r[vec_col]))
        for r in corpus.filter(F.col(id_col) < n_cells).collect()
    ]
    best_cell = lambda v: _cell_scores(v, cents)[0]["i"]  # noqa: E731
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        best_cell(F.col(vec_col)).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.posexplode(
            F.transform(
                F.slice(_cell_scores(F.col(vec_col), cents), 1, n_probe),
                lambda s: s["i"],
            )
        ).alias("pos", "cell"),
    )
    return (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.col("pos") + 1).cast("int").alias("probe_rank"),
            V.cosine(F.col("qvec"), F.col("nvec")).alias("cosine"),
        )
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = NEAR_DUP_COSINE,
    sign_bits: int = LSH_SIGN_BITS,
    max_cell: int = MAX_CELL,
    bucket_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup (id_a < id_b) pairs within sign-bit
    cells — the §2.D 'embedding-cosine near-dup' op. Bucketed self-join,
    never all-pairs.

    Cells over ``max_cell`` members are dropped (skew guard): there are
    only 2^sign_bits cells, so cell population grows linearly with the
    corpus and the in-cell self-join quadratically — a hot cell at 100×
    scale would dominate the whole job. The allowed-cell set is ≤ 2^bits
    rows and broadcasts; at real scale raise ``sign_bits`` so cells stay
    under the cap instead of relying on the drop.

    ``bucket_col`` swaps the sign-bit cells for an existing partition
    column — e.g. a trained k-means cell for SemDeDup
    (queries.q_semdedup_survivors) — keeping the same cap and verify
    semantics over learned cells."""
    # fan_out the projected rows BEFORE the per-row bucket/norm math
    # and the in-cell self-join — the self-join's probe side inherits
    # this partitioning, so the quadratic in-cell scoring parallelizes
    # instead of running inside a single scan task (measured 3.4 s on
    # one core for semdedup_survivors at sf0.1). No-op at scale.
    raw = fan_out(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            *([F.col(bucket_col)] if bucket_col is not None else []),
        )
    )
    bucket = (
        F.col(bucket_col)
        if bucket_col is not None
        else V.sign_bits_bucket(F.col("__v"), sign_bits)
    )
    # Per-row norms BEFORE the self-join: the pair cosine is then one
    # dot product instead of three array aggregates. dot/(n_a*n_b) is
    # the same expression tree cosine() builds, just with the norm
    # factors evaluated once per row — bit-identical results.
    b = raw.select(
        "__id", "__v",
        bucket.alias("bucket"), V.norm(F.col("__v")).alias("__nrm"),
    )
    ok = (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter((F.col("__n") >= 2) & (F.col("__n") <= max_cell))
        .select("bucket")
    )
    b = b.join(F.broadcast(ok), "bucket")
    x, y = b.alias("x"), b.alias("y")
    return (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.__id") < F.col("y.__id")),
        )
        .select(
            F.col("x.__id").alias("id_a"),
            F.col("y.__id").alias("id_b"),
            F.round(
                F.try_divide(
                    V.dot(F.col("x.__v"), F.col("y.__v")),
                    F.col("x.__nrm") * F.col("y.__nrm"),
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


INT8_SHORTLIST_FACTOR = 2


def topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = TOPK_DEFAULT,
    shortlist_factor: int = INT8_SHORTLIST_FACTOR,
) -> DataFrame:
    """Quantized-retrieve / exact-rescore top-k: score int8 codes first
    (4× less memory traffic than floats — at 100 TB the index scan is
    bandwidth-bound, which is why serving stacks quantize), shortlist
    ``k × shortlist_factor`` candidates per query by the approximate
    score, then rescore ONLY the shortlist with exact cosine. Code dot
    products are exact small-integer sums (order-free by construction),
    so the shortlist — and therefore the result — is engine-identical;
    recall < 1 is the documented trade (a true neighbor can miss the
    shortlist)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            V.int8_scale(vec_col).alias("qs"),
            V.int8_codes(vec_col).alias("qc"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        V.int8_scale(vec_col).alias("cs"),
        V.int8_codes(vec_col).alias("cc"),
    )
    approx = (
        V.dot(F.col("cc"), F.col("qc")) * F.col("cs") * F.col("qs")
    )
    joined = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("approx", approx)
        .filter(F.col("approx").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id").asc()
    )
    short = joined.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k * shortlist_factor
    )
    scored = short.select(
        "query_id",
        "neighbor_id",
        V.cosine("cv", "qv").alias("cosine"),
    )
    return _ranked_topk(scored, k)


# -- incremental embedding near-dup (persisted cell index, probe batches) ----


def centroid_fingerprint(centroids: list[tuple[int, list[float]]]) -> str:
    """Stable content hash of a trained centroid set (cell ids + packed
    float64 components, order-canonicalized by cell id). Two uses, both
    guarding silent cell-space mismatches: (a) the session-level index
    cache key (an index built with one centroid set must never be served
    to a caller holding a differently-trained set), and (b) the at-rest
    index guard — :func:`save_embedding_index` stores it and
    :func:`load_embedding_index` refuses centroids that don't match,
    because probing a persisted index with re-trained centroids would
    silently assign the batch to incompatible cells."""
    import hashlib
    import struct

    h = hashlib.sha256()
    for cell, vec in sorted(centroids, key=lambda cv: cv[0]):
        h.update(struct.pack("<i", int(cell)))
        h.update(struct.pack(f"<{len(vec)}d", *[float(x) for x in vec]))
    return h.hexdigest()


def embedding_cell_index(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigner=None,
) -> DataFrame:
    """The persistable ANN-ingest index of an embedding corpus: one row
    per vector carrying ``(cell, vec_id, embedding, nrm, cell_n)`` —
    the trained-cell assignment WITH the verification payload (vector +
    precomputed norm) AND its cell's member count, the embedding-space
    twin of :func:`operators.dedup.minhash_index`. A later batch probes
    cells and cosine-verifies without ever re-assigning or re-norming
    the indexed corpus; ``cell_n`` lets the probe ship no payload for a
    row whose cell alone already fills the cap (see
    :func:`incremental_embedding_pairs`). At rest, partition by
    ``cell``.

    At 100 TB this is the ANN analog of the incremental MinHash
    contract: per-ingest cost scales with the batch, not the corpus —
    the corpus embeddings are assigned/normed ONCE at index build
    (shuffle-free: assign_cells_auto), and every probe is one
    broadcast semi-join of the batch's cells against one index scan.

    ``assigner`` (a ``clustering.cell_assigner`` closure) lets a
    repeated caller — the streaming probe drain, which builds one
    batch index PER MICRO-BATCH — construct the centroid argmin
    expression once per drain instead of re-paying the k × dim
    literal-tree construction every epoch (r13 verdict item 3). Same
    dispatch and results as the default path."""
    # window count, not groupBy+join-back: one shuffle on cell, single
    # evaluation of the assignment pipeline (same reasoning as
    # dedup.with_bucket_counts)
    return with_cell_counts(
        _cell_rows(df, centroids, id_col, vec_col, assigner)
    )


def _cell_rows(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    assigner=None,
) -> DataFrame:
    """``(cell, vec_id, embedding, nrm)``: ``df`` assigned to its
    trained cells, with each vector's norm."""
    from genai_batch_processor_spark.operators import clustering

    assigned = (
        assigner(df)
        if assigner is not None
        else clustering.assign_cells_auto(df, centroids, vec_col)
    )
    return assigned.select(
        F.col("cell").cast("int").alias("cell"),
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        V.norm(F.col(vec_col)).alias("nrm"),
    )


def with_cell_counts(base: DataFrame) -> DataFrame:
    """Attach/refresh ``cell_n`` on a ``(cell, vec_id, embedding,
    nrm)`` relation via a window count (one shuffle, single
    evaluation) — the embedding-space twin of
    ``operators.dedup.with_bucket_counts``.

    Also the REPAIR step after deleting rows from a persisted index
    (takedowns via the cell-partitioned delete): the denormalized
    ``cell_n`` on surviving rows still counts the removed members,
    which drops those rows' pairs at probe time once the stale count
    reaches the cap — refresh and rewrite after erasures."""
    return base.drop("cell_n").withColumn(
        "cell_n",
        F.count(F.lit(1)).over(Window.partitionBy("cell")).cast("long"),
    )


def incremental_embedding_pairs(
    index: DataFrame,
    new_vecs: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = NEAR_DUP_COSINE,
    max_cell: int = 512,
    batch_index: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs INVOLVING AT LEAST ONE NEW
    vector, probing a prebuilt :func:`embedding_cell_index` — old-old
    pairs are never generated (the indexed corpus is presumed already
    deduplicated) and the corpus embeddings are never re-assigned. The
    cell cap applies to the COMBINED (index + batch) cell population,
    so results match a from-scratch run over the union restricted to
    new-sided pairs — the DuckDB twin replays exactly that.

    Probe plan — the shape of ``dedup.incremental_near_dup_pairs``:
    ONE grouping by cell, and THE INDEX NEVER SHUFFLES: the batch
    (assigned with the SAME centroids the index was built with)
    broadcasts its cells into a left-semi join over a single scan of
    the index, so only the index rows that share a batch cell leave
    the scan. Those rows and the batch rows group on cell; each group
    emits its old-new and new-new pairs, which are deduped and
    thresholded once. Output: (id_a, id_b, cosine) with id_a < id_b.
    A replayed id (same id in index AND batch) matches only OTHER
    vectors, as in the MinHash twin.

    Cap rule — ONE decision per cell for both pair kinds: a group is
    kept when its row count (the probe view's rows in that cell plus
    the batch's) is ≤ ``max_cell``. Counting rows is exact for any
    probe-view provenance: the streaming drain unions the corpus
    index with earlier epochs' rows, whose per-source ``cell_n``
    values cannot be summed, and a row replicated across sources
    counts once per replica. An old row whose own ``cell_n`` is
    already ≥ ``max_cell`` still counts but carries no payload: its
    cell holds at least ``cell_n`` rows plus a batch row, so it fails
    the cap anyway, and a hot corpus cell ships no embeddings through
    the shuffle. That bound needs ``cell_n`` to never over-count its
    source's rows — the loader refuses stale counts, and
    :func:`with_cell_counts` is the repair after erasures.

    The batch's cell rows are read twice (the broadcast cells and the
    grouped rows), so pass ``batch_index`` (a prebuilt
    :func:`embedding_cell_index` of the batch, persisted or read back
    from files) when the caller manages lifecycles — e.g. the
    streaming drain, which writes the batch rows first and probes the
    directory it wrote; else the batch is assigned per call and
    materialized once as an eager checkpoint (bounded: the batch is
    broadcast-sized by contract, and no session cache entry outlives
    the call's references)."""
    b = (
        batch_index
        if batch_index is not None
        else _cell_rows(new_vecs, centroids, id_col, vec_col).checkpoint(
            eager=True
        )
    )

    def pair(x: Column, y: Column) -> Column:
        return F.struct(
            F.least(x["id"], y["id"]).alias("id_a"),
            F.greatest(x["id"], y["id"]).alias("id_b"),
            F.round(
                F.try_divide(V.dot(x["v"], y["v"]), x["nrm"] * y["nrm"]), 6
            ).alias("cosine"),
        )

    row = F.struct(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"), "nrm"
    )
    old_rows = index.join(
        F.broadcast(b.select("cell")), "cell", "left_semi"
    ).select("cell", F.when(F.col("cell_n") < max_cell, row).alias("old"))
    new_rows = b.select("cell", row.alias("new"))
    return (
        old_rows.unionByName(new_rows, allowMissingColumns=True)
        .groupBy("cell")
        .agg(
            F.collect_list("new").alias("new"),
            F.collect_list("old").alias("old"),  # skips payload-less rows
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") <= max_cell)
        .select(
            F.explode(
                F.concat(
                    cross_pairs("old", "new", pair), array_pairs("new", pair)
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b", "p.cosine")
        .distinct()
        # id_a < id_b: a batch id delivered twice never pairs with itself
        .filter(
            (F.col("cosine") >= threshold) & (F.col("id_a") < F.col("id_b"))
        )
    )
