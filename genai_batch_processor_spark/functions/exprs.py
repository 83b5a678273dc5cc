"""Column-expression combinators shared across the function library.

``bind`` exists because Spark performs NO common-subexpression
elimination inside higher-order-function lambdas: an outer expression
referenced from a lambda body is re-evaluated once per array element.
Any O(n) expression consumed inside an O(n) lambda silently becomes
O(n²) per row — measured 13-20× slowdowns on shingling and
quantization before these call sites were bound (see
operators/dedup.winnow_from_hashes for the war story).

``once`` exists because building a Column from Python is not free: every
``Column``/``functions`` call is one Py4J round trip (~0.05 ms), and the
MinHash signature alone is ~1,500 of them. A hot path that rebuilds the
same tree for every micro-batch pays that per epoch; ``once`` builds it
once per process and JVM.

``array_pairs`` and ``cross_pairs`` build the pairs of a grouped
near-dup probe from its collected arrays: every pair within one array,
and every pair across two. The callers pass their own ``pair``
struct (Jaccard over shingle hashes, cosine over embeddings).
"""

from __future__ import annotations

from typing import Callable, Hashable, TypeVar

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

T = TypeVar("T")

# (gateway, {key: value}): the trees hold JVM object references, so
# they are only valid for the gateway (JVM) that built them.
_memo: tuple[object, dict] = (None, {})


def bind(value: Column, body) -> Column:
    """Let-binding for column expressions: evaluate ``value`` ONCE and
    pass it to ``body`` as a lambda variable. Implemented as a
    transform over a 1-element array — the standard workaround for the
    missing lambda-interior CSE."""
    return F.element_at(F.transform(F.array(value), body), 1)


def array_pairs(name: str, pair_fn) -> Column:
    """``pair_fn(x, y)`` for every element ``x`` of array column
    ``name`` and every ``y`` after it — all unordered pairs, each once;
    over a sorted array ``x`` precedes ``y``, which makes ``id_a <
    id_b`` structural. A column, not an expression: an inline array
    would be re-evaluated per element (no CSE inside higher-order
    lambdas)."""
    arr = F.col(name)
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)), lambda y: pair_fn(x, y)
            ),
        )
    )


def cross_pairs(old: str, new: str, pair_fn) -> Column:
    """``pair_fn(o, n)`` for every struct ``o`` of array column ``old``
    and every struct ``n`` of ``new`` with a different ``id`` field: a
    probe group's old-new pairs, where a replayed batch id never pairs
    with its own old row."""
    return F.flatten(
        F.transform(
            old,
            lambda o: F.transform(
                F.filter(new, lambda n: n["id"] != o["id"]),
                lambda n: pair_fn(o, n),
            ),
        )
    )


def once(key: tuple[Hashable, ...], build: Callable[[], T]) -> T:
    """``build()``, memoized per process and live Py4J gateway.

    ``key`` must name everything the value depends on (column names,
    constants such as ``max_bucket``), and ``build`` must depend on
    nothing else: the value is shared by every later caller, across
    sessions on the same JVM. A new gateway (a new JVM) starts an empty
    memo. Safe across threads — a ``foreachBatch`` callback and the
    driver may call it at once; at worst both build the same value and
    one wins. Column trees are immutable and may appear any number of
    times in one plan (lambda variables are resolved per use)."""
    global _memo
    gateway = SparkContext._gateway
    owner, memo = _memo
    if owner is not gateway:
        memo = {}
        _memo = (gateway, memo)
    try:
        return memo[key]
    except KeyError:
        return memo.setdefault(key, build())
