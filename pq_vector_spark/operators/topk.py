"""Top-k nearest-neighbor operators.

Brute force ≙ the reference's canonical query
``SELECT … ORDER BY array_distance(vec, [q]) LIMIT k``
(reference: src/df_vector/tests.rs:76-81) — expressed as
``orderBy(distance).limit(k)`` which Spark compiles to
``TakeOrderedAndProject``: a per-partition bounded k-heap + driver merge,
i.e. exactly the distributed generalization of the reference's bounded
max-heap (src/ivf/search.rs:112-127, src/df_vector/exec.rs:457-484). No
shuffle of the data — each scan task keeps k rows, only n_partitions×k rows
travel to the driver. At 100 TB this is the optimal exact plan.

``topk`` dispatches to the IVF-indexed path when a sidecar index exists
(≙ the reference's physical rewrite firing when the file carries an index,
src/df_vector/physical.rs:20-229), else brute force.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pq_vector_spark.functions.distance import array_distance
from pq_vector_spark.session import VectorTopKOptions

DISTANCE_COL = "_pq_distance"


def brute_force_topk(
    df: DataFrame,
    column: str,
    query: Sequence[float],
    k: int,
    *,
    tie_break: Optional[str] = None,
    keep_distance: bool = False,
    pre_filter: Optional[Column] = None,
) -> DataFrame:
    """Exact k-NN: distance expr → orderBy → limit.

    ``tie_break``: optional secondary sort column for deterministic results
    on equal distances (needed by the hash-matching oracle, SURVEY.md §2.C).
    ``pre_filter``: predicate applied before ranking (reference test
    semantics: WHERE clauses rank only surviving rows,
    src/df_vector/tests.rs:152-241).
    """
    # string name, not F.col(...): only a name unrolls into codegen
    d = array_distance(column, list(query))
    out = df
    if pre_filter is not None:
        out = out.filter(pre_filter)
    out = out.withColumn(DISTANCE_COL, d)
    order = [F.col(DISTANCE_COL).asc()]
    if tie_break is not None:
        order.append(F.col(tie_break).asc())
    out = out.orderBy(*order).limit(k)
    if not keep_distance:
        out = out.drop(DISTANCE_COL)
    return out


def topk(
    df_or_path,
    column: str,
    query: Sequence[float],
    k: int,
    *,
    spark=None,
    options: Optional[VectorTopKOptions] = None,
    tie_break: Optional[str] = None,
    keep_distance: bool = False,
) -> DataFrame:
    """Main entry point ≙ reference ``TopkBuilder`` (src/ivf/search.rs:47-81)
    + the SQL rewrite target (src/df_vector/physical.rs).

    Given a *path*, uses the sidecar IVF index when present (candidate-pruned
    scan, reference lifecycle §3.2) and falls back to exact brute force when
    absent. Given a DataFrame, runs brute force (no file identity to carry
    an index).
    """
    from pq_vector_spark.index.build import has_index
    from pq_vector_spark.index.search import indexed_topk

    if isinstance(df_or_path, str):
        path = df_or_path
        assert spark is not None, "pass spark= when giving a path"
        if has_index(path, spark=spark):
            return indexed_topk(
                spark,
                path,
                query,
                k,
                column=column,
                options=options,
                tie_break=tie_break,
                keep_distance=keep_distance,
            )
        df = spark.read.parquet(path)
        return brute_force_topk(
            df, column, query, k, tie_break=tie_break, keep_distance=keep_distance
        )
    return brute_force_topk(
        df_or_path, column, query, k, tie_break=tie_break, keep_distance=keep_distance
    )
