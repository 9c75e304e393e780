"""Golden end-to-end top-k tests — same data and expected ids as the
reference's SQL tests (src/df_vector/tests.rs:16-104, 152-241)."""

import pytest
from pyspark.sql import functions as F

from pq_vector_spark.functions.distance import UNROLL_LIMIT
from pq_vector_spark.operators.topk import brute_force_topk


def _ids(df):
    return [r["id"] for r in df.select("id").collect()]


def test_canonical_knn(golden_vectors):
    # nearest to origin: id 0 (0.0), id 5 (~0.141), id 1 (1.0), ...
    out = brute_force_topk(golden_vectors, "vec", [0.0, 0.0], 3, tie_break="id")
    assert _ids(out) == [0, 5, 1]


def test_filtered_knn_matches_reference(golden_vectors):
    # ≙ tests.rs:77-99: WHERE id >= 2 ORDER BY dist LIMIT 2 ⇒ [5, 2]
    out = brute_force_topk(
        golden_vectors, "vec", [0.0, 0.0], 2, tie_break="id", pre_filter=F.col("id") >= 2
    )
    assert _ids(out) == [5, 2]


def test_keep_distance_column(golden_vectors):
    out = brute_force_topk(
        golden_vectors, "vec", [0.0, 0.0], 1, keep_distance=True
    ).collect()
    assert out[0]["_pq_distance"] == 0.0


def test_plan_is_take_ordered(golden_vectors):
    """The physical plan must be TakeOrderedAndProject (distributed bounded
    k-heap), not a full sort — ≙ the reference replacing Sort+Limit
    (src/df_vector/physical.rs). Plan-shape assertion stands in for the
    reference's snapshot tests (SURVEY.md §5)."""
    out = brute_force_topk(golden_vectors, "vec", [0.0, 0.0], 2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize("dim", [2, UNROLL_LIMIT + 8])
def test_null_and_mismatched_vectors_rank_last(spark, dim):
    """A NULL or wrong-length vector has a NULL distance; it must rank
    after every real neighbour (Spark's plain ``asc`` puts NULLs first),
    on the unrolled route and on the wide Arrow-kernel route alike."""
    rows = [
        (0, None),
        (1, [1.0] * (dim - 1)),
        (2, [3.0] * dim),
        (3, [1.0] * dim),
        (4, [2.0] * dim),
    ]
    df = spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>")
    out = brute_force_topk(df, "vec", [0.0] * dim, 3, tie_break="id")
    assert _ids(out) == [3, 4, 2]
    # with k beyond the valid rows, the NULL-distance rows come last
    assert _ids(brute_force_topk(df, "vec", [0.0] * dim, 5, tie_break="id")) == [3, 4, 2, 0, 1]
