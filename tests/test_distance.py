"""Kernel checks ≙ reference unit level (src/ivf/index.rs:487-493)."""

import math

import pytest
from pyspark.sql import functions as F

from pq_vector_spark.functions.distance import (
    array_distance,
    cosine_similarity,
    dot_product,
    l2_norm,
    squared_l2,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_squared_l2_numeric(spark):
    # ≙ reference squared_l2_distance test (src/ivf/index.rs:487-493)
    a, b = [1.0, 2.0, 3.0], [4.0, 6.0, 8.0]
    assert _one(spark, squared_l2(a, b)) == pytest.approx(9 + 16 + 25)


def test_array_distance_is_sqrt(spark):
    a, b = [0.0, 0.0], [3.0, 4.0]
    assert _one(spark, array_distance(a, b)) == pytest.approx(5.0)


def test_dot_and_norm_and_cosine(spark):
    a, b = [1.0, 0.0], [1.0, 1.0]
    assert _one(spark, dot_product(a, b)) == pytest.approx(1.0)
    assert _one(spark, l2_norm(b)) == pytest.approx(math.sqrt(2))
    assert _one(spark, cosine_similarity(a, b)) == pytest.approx(1 / math.sqrt(2))


def test_null_vector_gives_null_distance(spark):
    # query-time silent-skip semantics (src/df_vector/exec.rs:495-528)
    df = spark.createDataFrame([(1, None)], "id INT, vec ARRAY<FLOAT>")
    row = df.select(array_distance(F.col("vec"), [1.0, 2.0]).alias("d")).collect()[0]
    assert row["d"] is None


def test_dim_mismatch_gives_null(spark):
    # zip_with pads with NULL on length mismatch → NULL distance → row drops
    df = spark.createDataFrame([(1, [1.0])], "id INT, vec ARRAY<FLOAT>")
    row = df.select(array_distance(F.col("vec"), [1.0, 2.0]).alias("d")).collect()[0]
    assert row["d"] is None


def test_sql_registration(spark):
    got = spark.sql(
        "SELECT array_distance(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS d"
    ).collect()[0]["d"]
    assert got == pytest.approx(5.0)


def test_failed_sql_registration_is_logged(caplog):
    """A session that rejects CREATE TEMPORARY FUNCTION logs one warning per
    function instead of failing silently."""
    from pyspark.errors import AnalysisException

    from pq_vector_spark.functions.distance import SQL_FOLDS, register_sql_functions

    class _Rejecting:
        def sql(self, text):
            raise AnalysisException(message="SQL scalar functions are not supported")

    with caplog.at_level("WARNING", logger="pq_vector_spark.distance"):
        register_sql_functions(_Rejecting())
    warned = [r.getMessage() for r in caplog.records if r.levelname == "WARNING"]
    assert len(warned) == len(SQL_FOLDS)
    assert all("not registered" in m for m in warned)


# ---------------- wide-vector Arrow kernel (round-2) ----------------


def test_wide_literal_arrow_kernel_bit_exact(spark):
    """dim > UNROLL_LIMIT routes to the Arrow numpy kernel; per-dimension
    left-to-right accumulation must be BIT-identical to the HOF fold."""
    import numpy as np

    from pq_vector_spark.functions.distance import (
        UNROLL_LIMIT,
        array_distance,
        cosine_similarity,
        dot_product,
    )

    dim = UNROLL_LIMIT + 72
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.random(dim, dtype=np.float32)]) for i in range(50)]
    df = spark.createDataFrame(rows, "id INT, v ARRAY<FLOAT>")
    q = [float(x) for x in rng.random(dim, dtype=np.float32)]

    qcol = F.array(*[F.lit(float(x)) for x in q])
    for fast, slow in (
        (array_distance(F.col("v"), q), array_distance(F.col("v").cast("array<double>"), qcol)),
        (dot_product(F.col("v"), q), dot_product(F.col("v").cast("array<double>"), qcol)),
        (cosine_similarity(F.col("v"), q), cosine_similarity(F.col("v").cast("array<double>"), qcol)),
    ):
        got = df.select(F.col("id"), fast.alias("x"), slow.alias("y")).collect()
        for r in got:
            assert r["x"] == r["y"], f"id={r['id']}: {r['x']!r} != {r['y']!r}"


def test_wide_literal_dim_mismatch_is_null(spark):
    import numpy as np

    from pq_vector_spark.functions.distance import UNROLL_LIMIT, array_distance

    dim = UNROLL_LIMIT + 8
    rng = np.random.default_rng(4)
    rows = [
        (0, [float(x) for x in rng.random(dim)]),
        (1, [1.0, 2.0]),  # wrong dim
        (2, None),
    ]
    df = spark.createDataFrame(rows, "id INT, v ARRAY<DOUBLE>")
    q = [float(x) for x in rng.random(dim)]
    got = {r["id"]: r["d"] for r in df.select("id", array_distance(F.col("v"), q).alias("d")).collect()}
    assert got[0] is not None
    assert got[1] is None
    assert got[2] is None

# ---------------- two-column wide kernel (dim_hint, round-2) ----------------


def test_col_col_dim_hint_bit_exact(spark):
    """dim_hint > UNROLL_LIMIT routes column-vs-column distances to the
    two-column Arrow kernel; accumulation order matches the HOF fold, so
    results must be BIT-identical."""
    import numpy as np

    from pq_vector_spark.functions.distance import (
        UNROLL_LIMIT,
        array_distance,
        cosine_similarity,
        dot_product,
    )

    dim = UNROLL_LIMIT + 40
    rng = np.random.default_rng(7)
    rows = [
        (
            i,
            [float(x) for x in rng.random(dim, dtype=np.float32)],
            [float(x) for x in rng.random(dim, dtype=np.float32)],
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id INT, a ARRAY<FLOAT>, b ARRAY<FLOAT>")

    for fn in (array_distance, dot_product, cosine_similarity):
        got = df.select(
            "id",
            fn(F.col("a"), F.col("b"), dim_hint=dim).alias("x"),
            fn(F.col("a"), F.col("b")).alias("y"),
        ).collect()
        for r in got:
            assert r["x"] == r["y"], f"{fn.__name__} id={r['id']}: {r['x']!r} != {r['y']!r}"


def test_col_col_dim_hint_null_and_mismatch(spark):
    """Nulls and length mismatches give NULL, matching zip_with semantics."""
    import numpy as np

    from pq_vector_spark.functions.distance import UNROLL_LIMIT, array_distance

    dim = UNROLL_LIMIT + 8
    rng = np.random.default_rng(8)
    v = [float(x) for x in rng.random(dim)]
    rows = [(0, v, v), (1, v, [1.0, 2.0]), (2, None, v), (3, v, None)]
    df = spark.createDataFrame(rows, "id INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
    got = {
        r["id"]: r["d"]
        for r in df.select(
            "id", array_distance(F.col("a"), F.col("b"), dim_hint=dim).alias("d")
        ).collect()
    }
    assert got[0] == pytest.approx(0.0)
    assert got[1] is None
    assert got[2] is None
    assert got[3] is None


def test_col_col_dim_hint_routes_to_arrow(spark):
    """A wide dim_hint must produce a pandas-UDF plan (ArrowEvalPython),
    not the interpreted HOF fold."""
    from pq_vector_spark.functions.distance import UNROLL_LIMIT, squared_l2

    dim = UNROLL_LIMIT + 1
    df = spark.createDataFrame([(1, [0.0] * dim, [0.0] * dim)], "id INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
    plan = (
        df.select(squared_l2(F.col("a"), F.col("b"), dim_hint=dim).alias("d"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan


def test_multi_distances_validation(spark):
    from pq_vector_spark.functions.distance import multi_distances

    with pytest.raises(ValueError, match="at least one"):
        multi_distances(F.col("v"), [])
    with pytest.raises(ValueError, match="share one dimension"):
        multi_distances(F.col("v"), [[1.0, 2.0], [1.0]])
    with pytest.raises(ValueError, match="unknown metric"):
        multi_distances(F.col("v"), [[1.0, 2.0]], metric="manhattan")


# ---------------- NaN preservation across the codegen boundary (round-3) ----


def test_nan_scores_survive_arrow_kernels(spark):
    """Legitimate NaN scores (cosine with a zero-norm column vector) must
    stay NaN through the Arrow kernels, exactly as the native fold yields
    NaN — only dim-mismatch/null rows become NULL. Spark ranks NaN above
    every double while NULL is filtered/sorted last, so coercing NaN to
    NULL would silently change top-k rankings across the UNROLL_LIMIT
    boundary."""
    import math

    import numpy as np

    from pq_vector_spark.functions.distance import UNROLL_LIMIT, cosine_similarity

    for dim in (4, UNROLL_LIMIT + 8):  # native fold vs Arrow kernel
        rows = [
            (0, [0.0] * dim),            # zero norm -> 0/0 = NaN
            (1, [1.0] + [0.0] * (dim - 1)),
            (2, None),                    # null -> NULL
            (3, [1.0, 2.0, 3.0]) if dim > 4 else (3, [1.0] * dim),
        ]
        df = spark.createDataFrame(rows, "id INT, v ARRAY<DOUBLE>")
        q = [1.0] + [0.0] * (dim - 1)
        got = {
            r["id"]: r["c"]
            for r in df.select("id", cosine_similarity(F.col("v"), q).alias("c")).collect()
        }
        assert got[0] is not None and math.isnan(got[0]), f"dim={dim}: {got[0]!r}"
        assert got[1] == pytest.approx(1.0)
        assert got[2] is None
        if dim > 4:
            assert got[3] is None  # dim mismatch -> NULL, not NaN


def test_nan_scores_survive_multi_kernel(spark):
    """multi_distances cosine: a zero-norm corpus row must score NaN for
    every query in BOTH the native F.array branch and the Arrow matrix
    kernel (Arrow nulls NaN inside lists; the kernel coalesces them back)."""
    import math

    import numpy as np

    from pq_vector_spark.functions.distance import MULTI_UNROLL_BUDGET, UNROLL_LIMIT, multi_distances

    wide = UNROLL_LIMIT + 16
    for dim in (4, wide):
        n_q = 3
        rng = np.random.default_rng(7)
        qmat = [[float(x) for x in rng.random(dim)] for _ in range(n_q)]
        rows = [(0, [0.0] * dim), (1, [float(x) for x in rng.random(dim)])]
        df = spark.createDataFrame(rows, "id INT, v ARRAY<DOUBLE>")
        got = {
            r["id"]: r["s"]
            for r in df.select(
                "id", multi_distances(F.col("v"), qmat, metric="cosine").alias("s")
            ).collect()
        }
        assert all(s is not None and math.isnan(s) for s in got[0]), f"dim={dim}: {got[0]!r}"
        assert all(s is not None and not math.isnan(s) for s in got[1])


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_nonfinite_literal_query_matches_sql_fold(spark, bad):
    """A NaN/±inf query component keeps the unrolled chain (dim ≤
    UNROLL_LIMIT) and equals the registered SQL functions' fold bit for
    bit, or both are NaN."""
    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0, 4.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [inf, 1.0, -1.0, 0.5]),
            (4, [-inf, nan, 0.0, 1.0]),
            (5, [-3.5, 0.25, 7.0, -0.0]),
            (6, None),
            (7, [1.0, 2.0]),
        ],
        "id INT, v ARRAY<FLOAT>",
    )
    q = [0.5, bad, -1.25, 2.0]
    qsql = ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in q)
    for fn in (squared_l2, array_distance, dot_product, cosine_similarity):
        name = fn.__name__
        got_df = df.select("id", fn("v", q).alias("d"))
        plan = got_df._jdf.queryExecution().optimizedPlan().toString()
        assert "aggregate(" not in plan, name
        got = {r["id"]: r["d"] for r in got_df.collect()}
        want = {
            r["id"]: r["d"]
            for r in spark.sql(
                f"SELECT id, {name}(v, array({qsql})) AS d FROM {{df}}", df=df
            ).collect()
        }
        assert got.keys() == want.keys()
        for i in want:
            g, w = got[i], want[i]
            if g is None or w is None:
                assert g is None and w is None, (name, i)
            elif math.isnan(w):
                assert math.isnan(g), (name, i)
            else:
                assert g == w, (name, i, g, w)

