"""Result ↔ input correlation: first-class ``attach_results``.

Replaces the reference's application-level index join
(``run_text_classifier.py:104-107``: parse ordinal from custom_id, dict
lookup) and the fragile positional zip join
(``run_text_classifier.py`` [vertex]``:149``) with an explicit equi-join.
Order-dependence is gone by design (SURVEY.md §7 "known hard items") —
ordering is explicit data (the id column): sorting on it reproduces
the reference's key-ordered results (#35).

Scale: the input side of the join is usually the big one; responses join
back on a unique key, so a plain shuffle hash join scales linearly. When
one side is dimension-sized, pass ``broadcast_small=True``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from genai_batch_processor_spark.functions import ids


def attach_results(
    inputs: DataFrame,
    responses: DataFrame,
    *,
    id_col: str = "idx",
    custom_id_col: Column | str = "custom_id",
    how: str = "left",
    broadcast_small: bool = False,
) -> DataFrame:
    """Join responses back to inputs by the ordinal in custom_id (#36).

    ``sorted(results, key=int(custom_id.split('-')[1]))`` + dict lookup
    (ex-cls:101-107) becomes: extract index (#35's key parse) → equi-join.
    """
    resp = responses.withColumn("__join_idx", ids.extract_index(custom_id_col))
    right = F.broadcast(resp) if broadcast_small else resp
    joined = inputs.join(right, inputs[id_col] == right["__join_idx"], how)
    return joined.drop("__join_idx")
