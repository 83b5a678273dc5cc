"""Deterministic row ids and join-back keys.

The reference relies on input *order*: ``enumerate(data)``
(``openai_batch_processor.py:138``) and a positional zip join
(``examples/vertex_ai/run_text_classifier.py:149``). DataFrames are
unordered, so order must become data: ``row_number()`` over a stable key
(NOT ``monotonically_increasing_id``, which is partition-dependent and
non-contiguous — SURVEY.md §2 #4).

Scale design: a bare ``row_number()`` over an unpartitioned window is a
single-reducer sort (every row through ONE task — impossible at 100 TB).
``assign_ids`` instead buckets the key space by VALUE into
deterministic, data-derived ranges: per-bucket ``row_number`` plus a
driver-computed running offset gives the identical dense global ordinal
with parallelism = number of buckets. Value-derived buckets (not
``repartitionByRange``) on purpose: range-exchange boundaries come from
per-execution sampling, and the offsets job and the final job could see
DIFFERENT boundaries — value bucketing is a pure function of the data,
so both jobs agree. Cost: 1 tiny agg job (per-bucket counts) before the
one real shuffle; skewed key distributions skew buckets (pre-map the
key if so). String keys bucket by a numeric PROXY — the first 7 UTF-8
bytes zero-padded and read as an integer — which is monotone
non-decreasing w.r.t. Spark's string ordering (UTF8String compares raw
bytes; zero-padding is the infimum of all extensions; the double
rounding above 2^53 is itself monotone), so per-bucket ranking by the
REAL key still composes into the exact global ordinal. Only exotic key
types (binary, struct, …) fall back to the single-window path (fine
for dimension-sized inputs).

:func:`_bucket_offsets` is the one bucket-offset primitive: the shard
planner's prefix sums (``operators/batching.py``) compose the same way.

``custom_id`` is the zero-shuffle path when a natural key already
exists (every fixture table has one).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.DateType, T.TimestampType,
)


def _order_proxy(order_by: str, dtype) -> Column | None:
    """Numeric bucket coordinate, monotone non-decreasing w.r.t. the
    key's sort order — or None when the type has no cheap proxy."""
    if isinstance(dtype, _NUMERIC):
        return F.col(order_by).cast("double")
    if isinstance(dtype, T.StringType):
        # First 7 UTF-8 bytes, zero-padded, as a base-256 integer:
        # key1 < key2 (byte-wise, which IS Spark string ordering)
        # implies proxy1 <= proxy2. 7 bytes = 14 hex digits < 2^56,
        # inside conv's long range.
        return F.conv(
            F.hex(F.expr(f"rpad(encode(`{order_by}`, 'UTF-8'), 7, x'00')")),
            16,
            10,
        ).cast("double")
    return None


_BUCKET_MANTISSA_BITS = 5  # 32 sub-buckets per binary exponent
# |finite bucket| <= (1023 + 1100) * 32 + 32 = 67968; the null/inf/NaN
# sentinels sit JUST outside that band (not at 2^40) so the dense
# offset array below stays bounded (<= ~136k entries) even when a key
# column carries nulls or infinities
_BUCKET_FINITE_MAX = (1023 + 1100) * 32 + 32
_BUCKET_POS_INF = _BUCKET_FINITE_MAX + 1
_BUCKET_NAN = _BUCKET_FINITE_MAX + 2
_BUCKET_NEG_INF = -_BUCKET_FINITE_MAX - 1
_BUCKET_NULL = -_BUCKET_FINITE_MAX - 2


def _scale_free_bucket(knum: Column) -> Column:
    """DATA-INDEPENDENT, monotone non-decreasing bucket id for a double
    proxy: ``(floor(log2(|v|)) + bias) * 32 + mantissa_slice``, signed
    (r13 verdict item 5 — the previous min/max-derived equal-width
    buckets cost two driver-blocking aggregate jobs per call before the
    real shuffle). Effectively the top bits of the IEEE-754 sortable
    representation, expressed with SQL math: one bucket per 1/32 of a
    binary exponent, so any key distribution spreads over
    #exponents × 32 ordered intervals with no data statistics at all.

    Monotone under floating-point error by construction: if
    ``floor(log2(v))`` lands one off at an exponent boundary, the
    mantissa term lands at -1 or 32 and the composed id equals the
    adjacent exponent's boundary id exactly ((e+1)*32 + 0 ==
    e*32 + 32), so ordering is preserved; e is clamped to the finite
    double exponent range so ``pow(2, e)`` never over/underflows.
    Ordering of the sentinels mirrors Spark's sort order: NULL first,
    then -Inf < finite < +Inf < NaN."""
    mb = 1 << _BUCKET_MANTISSA_BITS

    def pos(v: Column) -> Column:
        e = F.greatest(
            F.least(F.floor(F.log2(v)), F.lit(1023)), F.lit(-1074)
        )
        frac = v / F.pow(F.lit(2.0), e)
        m = F.greatest(
            F.least(
                F.floor((frac - F.lit(1.0)) * F.lit(float(mb))),
                F.lit(mb),
            ),
            F.lit(-1),
        )
        return (e + F.lit(1100)) * F.lit(mb) + m

    return (
        F.when(knum.isNull(), F.lit(_BUCKET_NULL))
        .when(F.isnan(knum), F.lit(_BUCKET_NAN))
        .when(knum == F.lit(float("inf")), F.lit(_BUCKET_POS_INF))
        .when(knum == F.lit(float("-inf")), F.lit(_BUCKET_NEG_INF))
        .when(knum == F.lit(0.0), F.lit(0))
        .when(knum > 0, pos(knum))
        .otherwise(-pos(-knum))
        .cast("long")
    )


def _bucket_offsets(
    bucketed: DataFrame, bucket_col: str, aggs: list[Column]
) -> list[Column]:
    """Each row's exclusive running total of every per-bucket aggregate
    in ``aggs``, over ascending ``bucket_col`` (a long) — the offset a
    per-bucket window composes with into a global running value.

    One collect of the per-bucket aggregates (one row per bucket); each
    total ships as ONE dense array over the observed bucket range, a
    ``from_json`` literal that Catalyst constant-folds, read with an
    O(1) clamped ``element_at`` (measured: an ``F.array`` of
    per-element literals was rebuilt per row, ~0.25 s/action at sf0.1;
    a map literal is probed per row). Unobserved buckets inherit the
    previous offset: a row can only land there if the input changed
    between the collect and the action (static by contract), and then
    it degrades to the nearest boundary."""
    rows = sorted(
        tuple(r) for r in bucketed.groupBy(bucket_col).agg(*aggs).collect()
    )
    lo_b, hi_b = (rows[0][0], rows[-1][0]) if rows else (0, 0)
    slot = (
        F.greatest(F.least(F.col(bucket_col), F.lit(hi_b)), F.lit(lo_b))
        - F.lit(lo_b)
        + 1
    ).cast("int")
    offsets = []
    for i in range(1, len(aggs) + 1):
        starts: dict[int, int] = {}
        acc = 0
        for r in rows:
            starts[r[0]] = acc
            acc += r[i] or 0
        dense: list[int] = []
        last = 0
        for b in range(lo_b, hi_b + 1):
            last = starts.get(b, last)
            dense.append(last)
        arr = F.from_json(F.lit(json.dumps(dense)), "array<bigint>")
        offsets.append(F.element_at(arr, slot))
    return offsets


def assign_ids(
    df: DataFrame,
    order_by: str,
    id_col: str = "idx",
) -> DataFrame:
    """0-based dense ordinal by ``order_by`` (reference ``enumerate``
    semantics, oai:138), computed with bucket-parallel ranking.

    ONE pre-job: the bucket id is a DATA-INDEPENDENT monotone function
    of the key (:func:`_scale_free_bucket`), so no min/max statistics
    job is needed; the one job collects the bounded per-fine-bucket
    counts (<= ~136k tiny rows by construction, in practice
    tens-to-hundreds) for :func:`_bucket_offsets`. The window then
    partitions by the fine bucket DIRECTLY. A bucket spans 1/32 of a
    binary exponent, so parallelism is bounded by the key distribution,
    not the cluster: on dense integer keys the largest bucket (a slice
    of the top exponent) holds between 1/64 and 1/33 of the rows, so
    the window stage has at most ~33-64 useful tasks whatever the
    cluster size, and a hot key range still lands in one bucket.
    2 input passes in all. Keys without a numeric proxy use one
    unpartitioned window."""
    key = F.col(order_by)
    knum = _order_proxy(order_by, df.schema[order_by].dataType)
    if knum is None:
        w = Window.orderBy(key)
        return df.withColumn(id_col, F.row_number().over(w) - F.lit(1))

    bucketed = df.withColumn("__fine", _scale_free_bucket(knum))
    (offset,) = _bucket_offsets(
        bucketed, "__fine", [F.count(F.lit(1)).alias("cnt")]
    )
    w = Window.partitionBy("__fine").orderBy(key)
    return (
        bucketed.withColumn(
            id_col, (F.row_number().over(w) - 1 + offset).cast("long")
        )
        .drop("__fine")
    )


def custom_id(idx: Column | str, prefix: str = "request") -> Column:
    """Stable join-back key ``request-{i}`` (run_text_classifier.py:50)."""
    c = F.col(idx) if isinstance(idx, str) else idx
    return F.format_string(f"{prefix}-%d", c.cast("long"))


def retry_custom_id(
    key: Column | str, attempt: int, prefix: str = "request"
) -> Column:
    """Attempt-salted join-back key: ``request-{i}`` on the first
    attempt, ``request-{i}-r{attempt}`` on resubmits. A resubmitted
    request must NOT reuse its failed custom_id — providers reject
    duplicate ids within a batch, and a fresh id keeps each attempt's
    response row distinct in the result relation. ``extract_index``
    still parses the ordinal (the suffix rides after it)."""
    base = custom_id(key, prefix)
    if attempt <= 1:
        return base
    return F.format_string("%s-r%d", base, F.lit(attempt))


def extract_index(cid: Column | str) -> Column:
    """Parse the ordinal back out of ``request-{i}``
    (run_text_classifier.py:106)."""
    c = F.col(cid) if isinstance(cid, str) else cid
    return F.split(c, "-").getItem(1).cast("long")
