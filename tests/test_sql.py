"""pq_sql front-end tests — the PySpark stand-in for the reference's
physical rewrite rule (src/df_vector/physical.rs guard list)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pq_vector_spark.index.build import build_index
from pq_vector_spark.plans.sql import (
    expand_vector_functions,
    pq_sql,
    register_indexed_table,
)
from pq_vector_spark.session import IndexBuildOptions, VectorTopKOptions


@pytest.fixture(scope="module")
def sql_table(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("sqlidx")
    src = str(base / "src.parquet")
    out = str(base / "indexed")
    rng = np.random.default_rng(7)
    rows = [(int(i), [float(x) for x in rng.random(4, dtype=np.float32)]) for i in range(500)]
    spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>").write.mode("overwrite").parquet(src)
    build_index(spark, src, out, column="vec", options=IndexBuildOptions(n_clusters=8))
    register_indexed_table(spark, "sql_vectors", out)
    return {"src": src, "out": out}


def test_topk_shape_matches(spark, sql_table):
    q = "SELECT id FROM sql_vectors ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 5"
    out = pq_sql(spark, q, options=VectorTopKOptions(nprobe=8)).collect()
    assert len(out) == 5


def test_indexed_route_equals_brute_force(spark, sql_table):
    """Indexed route with nprobe=all must equal the plain-SQL brute force."""
    q = "SELECT id FROM sql_vectors ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 5"
    indexed = [r["id"] for r in pq_sql(spark, q, options=VectorTopKOptions(nprobe=8)).collect()]
    brute = [r["id"] for r in spark.sql(expand_vector_functions(q)).collect()]
    assert indexed == brute


def test_where_clause_applied(spark, sql_table):
    q = (
        "SELECT id FROM sql_vectors WHERE id >= 100 "
        "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 5"
    )
    out = pq_sql(spark, q, options=VectorTopKOptions(nprobe=8)).collect()
    assert len(out) == 5
    assert all(r["id"] >= 100 for r in out)


def test_desc_falls_through(spark, sql_table):
    # ASC-only guard ≙ physical.rs:143-145
    q = (
        "SELECT id FROM sql_vectors "
        "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) DESC LIMIT 3"
    )
    out = pq_sql(spark, q).collect()
    assert len(out) == 3  # still answered (brute force), not an error


def test_offset_falls_through(spark, sql_table):
    # no-OFFSET guard ≙ physical.rs:36-90
    q = (
        "SELECT id FROM sql_vectors "
        "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 3 OFFSET 1"
    )
    out = pq_sql(spark, q).collect()
    assert len(out) == 3


def test_non_topk_sql_passthrough(spark, sql_table):
    out = pq_sql(spark, "SELECT count(*) AS n FROM sql_vectors").collect()
    assert out[0]["n"] == 500


def test_expand_vector_functions_nested():
    got = expand_vector_functions("SELECT array_distance(a, b) FROM t")
    assert "sqrt" in got and "zip_with" in got and "array_distance" not in got


def test_cosine_expansion_runs(spark):
    got = pq_sql(
        spark,
        "SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c",
    ).collect()[0]["c"]
    assert got == pytest.approx(1.0)


# -------------------- adversarial parser hardening (round-2) --------------------


@pytest.fixture(scope="module")
def sql_table_str(spark, tmp_path_factory):
    """Indexed table with a STRING column for quoted-literal adversarial cases."""
    base = tmp_path_factory.mktemp("sqlidx_str")
    src = str(base / "src.parquet")
    out = str(base / "indexed")
    rng = np.random.default_rng(9)
    rows = [
        (int(i), f"name-{i}", [float(x) for x in rng.random(4, dtype=np.float32)])
        for i in range(200)
    ]
    spark.createDataFrame(rows, "id INT, name STRING, vec ARRAY<FLOAT>").write.mode(
        "overwrite"
    ).parquet(src)
    build_index(spark, src, out, column="vec", options=IndexBuildOptions(n_clusters=4))
    register_indexed_table(spark, "sql_vectors_str", out)
    return {"src": src, "out": out}


def test_projection_with_function_commas(spark, sql_table):
    """round(x, 2) in the projection must not be split apart. A computed
    projection is a decline shape, so the answer is the exact brute force."""
    q = (
        "SELECT id, round(array_distance(vec, [0.5, 0.5, 0.5, 0.5]), 2) AS d "
        "FROM sql_vectors ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 4"
    )
    out = pq_sql(spark, q, options=VectorTopKOptions(nprobe=8)).collect()
    assert len(out) == 4
    assert set(out[0].asDict()) == {"id", "d"}
    assert out == spark.sql(expand_vector_functions(q)).collect()


def test_quoted_literal_with_comma_and_keywords(spark, sql_table_str):
    """A WHERE string literal containing commas AND 'ORDER BY ... LIMIT'
    text must neither break the match nor cause a wrong rewrite."""
    q = (
        "SELECT id FROM sql_vectors_str "
        "WHERE name != 'x, ORDER BY array_distance(vec, [9]) LIMIT 1' "
        "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 5"
    )
    got = [r["id"] for r in pq_sql(spark, q, options=VectorTopKOptions(nprobe=4)).collect()]
    brute = [r["id"] for r in spark.sql(expand_vector_functions(
        "SELECT id FROM sql_vectors_str "
        "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]), id LIMIT 5"
    )).collect()]
    assert len(got) == 5
    assert set(got) <= set(brute) | set(got)  # answered, no exception
    # the filter is a no-op (no such name) so indexed == brute modulo ties
    assert sorted(got) == sorted(
        r["id"] for r in pq_sql(
            spark,
            "SELECT id FROM sql_vectors_str "
            "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 5",
            options=VectorTopKOptions(nprobe=4),
        ).collect()
    )


def test_subquery_in_where_falls_through(spark, sql_table):
    q = (
        "SELECT id FROM sql_vectors "
        "WHERE id >= (SELECT min(id) FROM sql_vectors) "
        "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 3"
    )
    out = pq_sql(spark, q).collect()  # brute-force fall-through, not an error
    assert len(out) == 3


def test_qualified_sort_column(spark, sql_table):
    q = (
        "SELECT id FROM sql_vectors "
        "ORDER BY array_distance(sql_vectors.vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 5"
    )
    got = [r["id"] for r in pq_sql(spark, q, options=VectorTopKOptions(nprobe=8)).collect()]
    plain = [r["id"] for r in pq_sql(
        spark,
        "SELECT id FROM sql_vectors ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 5",
        options=VectorTopKOptions(nprobe=8),
    ).collect()]
    assert got == plain


def test_bad_vector_literal_falls_through_to_bruteforce(spark, sql_table):
    """Non-numeric vector literal: the fallback must EXPAND the functions
    (raw bracket literals are not valid Spark SQL) and still answer."""
    q = (
        "SELECT id FROM sql_vectors "
        "ORDER BY array_distance(vec, array(0.5, 0.5, 0.5, vec[0])) LIMIT 3"
    )
    out = pq_sql(spark, q).collect()
    assert len(out) == 3


def test_unterminated_quote_falls_through(spark, sql_table):
    with pytest.raises(Exception):
        # unterminated literal is invalid SQL — must surface Spark's parse
        # error from the fall-through, never a wrong rewrite
        pq_sql(spark, "SELECT id FROM sql_vectors WHERE name = 'oops "
                      "ORDER BY array_distance(vec, [0.1]) LIMIT 1").collect()


# -------------------- one route: expand, spark.sql, plan interception --------------------

VEC4 = "[0.5, 0.5, 0.5, 0.5]"


def test_string_literals_survive_expansion(spark):
    """Quoted text that looks like a bracket vector or a distance call comes
    back unchanged, in a projection and in a filter; the real call next to
    it is still expanded."""
    spark.createDataFrame([(1, "x [2, 3]"), (2, "x array(2, 3)")], "id INT, name STRING") \
        .createOrReplaceTempView("sql_names")
    q = (
        "SELECT id, 'array_distance(a, b)' AS t, "
        "array_distance(array(3.0, 4.0), [0.0, 0.0]) AS d "
        "FROM sql_names WHERE name = 'x [2, 3]'"
    )
    rows = pq_sql(spark, q).collect()
    assert [(r["id"], r["t"], r["d"]) for r in rows] == [(1, "array_distance(a, b)", 5.0)]


def test_qualified_where_equals_brute_force(spark, sql_table):
    """A table-qualified WHERE column resolves on the intercepted route, and
    at nprobe = n_clusters the answer is the brute force."""
    from pq_vector_spark import vector_route

    register_indexed_table(spark, "sv", sql_table["out"])
    q = (
        "SELECT id FROM sv WHERE sv.id >= 100 "
        f"ORDER BY array_distance(vec, {VEC4}) LIMIT 5"
    )
    df = pq_sql(spark, q, options=VectorTopKOptions(nprobe=8))
    assert vector_route(df) == "ivf"
    got = [r["id"] for r in df.collect()]
    assert got == [r["id"] for r in spark.sql(expand_vector_functions(q)).collect()]
    assert all(i >= 100 for i in got)


def test_intercepted_query_clears_stale_decline(spark, sql_table):
    from pq_vector_spark import last_decline_reason

    pq_sql(spark, f"SELECT id FROM sql_vectors ORDER BY array_distance(vec, {VEC4}) DESC LIMIT 3")
    assert last_decline_reason() is not None
    pq_sql(
        spark,
        f"SELECT id FROM sql_vectors ORDER BY array_distance(vec, {VEC4}) LIMIT 3",
        options=VectorTopKOptions(nprobe=8),
    )
    assert last_decline_reason() is None


def test_plain_topk_takes_registered_pq_route(spark, sql_table, tmp_path):
    """The codes-sidecar route does not depend on how the SQL is spelled:
    a plain top-k takes it, as a CTE does."""
    from pq_vector_spark import vector_route
    from pq_vector_spark.index.pq import encode_indexed, train_pq
    from pq_vector_spark.plans.intercept import (
        register_codes_sidecar,
        unregister_codes_sidecar,
    )

    codes = str(tmp_path / "codes")
    cb = train_pq(spark.read.parquet(sql_table["src"]), "vec", m=4, nbits=8, seed=42)
    encode_indexed(spark, sql_table["out"], codes, "vec", "id", cb)
    register_codes_sidecar(sql_table["out"], codes, cb, id_col="id")
    try:
        q = f"SELECT id FROM sql_vectors ORDER BY array_distance(vec, {VEC4}) LIMIT 3"
        cte = (
            "WITH c AS (SELECT id, vec FROM sql_vectors) "
            f"SELECT id FROM c ORDER BY array_distance(vec, {VEC4}) LIMIT 3"
        )
        for text in (q, cte):
            assert vector_route(pq_sql(spark, text, options=VectorTopKOptions(nprobe=8))) == "ivf-pq"
    finally:
        unregister_codes_sidecar(sql_table["out"])


def test_intercepted_construction_launches_no_jobs(spark, sql_table):
    """Building the intercepted DataFrame runs no Spark job: the layout is
    re-read with the schema the plan already resolved."""
    from pq_vector_spark import vector_route

    q = f"SELECT id FROM sql_vectors WHERE id >= 10 ORDER BY array_distance(vec, {VEC4}) LIMIT 5"
    sc = spark.sparkContext
    group = "pq_sql_construction"
    sc.setJobGroup(group, "pq_sql construction")
    try:
        df = pq_sql(spark, q, options=VectorTopKOptions(nprobe=4))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert vector_route(df) == "ivf"
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert len(df.collect()) == 5
