"""Hybrid BM25+cosine RRF retrieval tests."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pq_vector_spark.operators.hybrid import hybrid_topk, rrf_fuse


def _ranked(spark, rows):
    return spark.createDataFrame(rows, "id: bigint, rank: int")


def test_rrf_fuse_hand_computed(spark):
    # doc 1 in both lists (ranks 1, 2); doc 2 lexical only (rank 2);
    # doc 3 semantic only (rank 1)
    lex = _ranked(spark, [(1, 1), (2, 2)])
    sem = _ranked(spark, [(3, 1), (1, 2)])
    out = {r["id"]: r for r in rrf_fuse([lex, sem], "id", 10, k_rrf=60).collect()}
    assert out[1]["n_lists"] == 2
    assert abs(out[1]["rrf_score"] - (1 / 61 + 1 / 62)) < 1e-12
    assert abs(out[2]["rrf_score"] - 1 / 62) < 1e-12
    assert abs(out[3]["rrf_score"] - 1 / 61) < 1e-12
    # doc in both lists outranks either single-list doc
    assert out[1]["rrf_score"] > out[3]["rrf_score"] > out[2]["rrf_score"]


def _rrf_column_reference(ranked, id_col, k, k_rrf):
    """The Column-op RRF fusion that ``rrf_fuse`` renders as one SQL call,
    kept verbatim as the test oracle."""
    legs = [
        df.select(
            F.col(id_col).alias("_id"),
            (F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("rank").cast("double"))).alias(
                "_contrib"
            ),
        )
        for df in ranked
    ]
    allrows = legs[0]
    for leg in legs[1:]:
        allrows = allrows.unionByName(leg)
    fused = allrows.groupBy("_id").agg(
        F.sum("_contrib").alias("rrf_score"),
        F.count(F.lit(1)).cast("int").alias("n_lists"),
    )
    return (
        fused.orderBy(F.col("rrf_score").desc(), F.col("_id").asc())
        .limit(k)
        .select(F.col("_id").alias(id_col), "rrf_score", "n_lists")
    )


def _with_rank(df, order):
    w = Window.orderBy(*order)
    return df.select("*", F.row_number().over(w).cast("int").alias("rank"))


def test_rrf_sql_path_matches_column_path(spark):
    """rrf_fuse's one-shot SQL must be bit-identical to the Column-op
    reference fusion (schema and values)."""
    lex = _ranked(spark, [(1, 1), (2, 2), (7, 3)])
    sem = _ranked(spark, [(3, 1), (1, 2)])
    via_sql = rrf_fuse([lex, sem], "id", 10, k_rrf=60)
    via_col = _rrf_column_reference([lex, sem], "id", 10, 60)
    assert via_sql.schema == via_col.schema
    assert [tuple(r) for r in via_sql.collect()] == [
        tuple(r) for r in via_col.collect()
    ]


def test_hybrid_sql_fusion_matches_column_path(spark):
    """hybrid_topk's one-shot fusion SQL must produce exactly what the
    Column-op reference chain produces (schema + values) over the same two
    candidate lists."""
    from pq_vector_spark.functions.text import bm25_topk
    from pq_vector_spark.operators.similarity import cosine_topk

    docs = spark.createDataFrame(
        [
            (0, "spark window functions in spark"),
            (1, "window seat spark plug spark spark"),
            (2, "completely unrelated words here"),
            (3, "nothing relevant at all"),
        ],
        "doc_id: bigint, text: string",
    )
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.1]),
            (1, [0.0, 1.0, 0.0]),
            (2, [0.9, 0.1, 0.1]),
            (3, [0.0, 0.9, 0.5]),
        ],
        "vec_id: bigint, embedding: array<float>",
    )
    terms, qvec = ["spark", "window"], [1.0, 0.0, 0.0]
    via_sql = hybrid_topk(
        docs, "text", "doc_id", terms, qvec, 3,
        vectors=vecs, vec_id_col="vec_id", pool=4, k_rrf=60,
    )
    lex = _with_rank(
        bm25_topk(docs, "text", "doc_id", terms, k=4),
        [F.col("score").desc(), F.col("doc_id").asc()],
    ).select(F.col("doc_id").alias("_hid"), "rank")
    sem = _with_rank(
        cosine_topk(vecs, "embedding", qvec, 4, id_col="vec_id"),
        [F.col("cosine").desc(), F.col("vec_id").asc()],
    ).select(F.col("vec_id").alias("_hid"), "rank")
    fused = _rrf_column_reference([lex, sem], "_hid", 3, 60)
    via_col = _with_rank(
        fused, [F.col("rrf_score").desc(), F.col("_hid").asc()]
    ).select(
        F.col("_hid").alias("doc_id"),
        F.round("rrf_score", 6).alias("rrf_score"),
        "n_lists",
        "rank",
    )
    assert via_sql.schema == via_col.schema
    assert [tuple(r) for r in via_sql.collect()] == [
        tuple(r) for r in via_col.collect()
    ]


def test_rrf_fuse_empty_input(spark):
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([], "id", 5)


def test_rrf_fuse_k_limit_and_tiebreak(spark):
    # identical contributions → tie broken by ascending id
    lex = _ranked(spark, [(5, 1), (3, 1)])  # same rank in separate lists
    sem = _ranked(spark, [(9, 1)])
    rows = rrf_fuse([lex, sem], "id", 2, k_rrf=60).collect()
    assert [r["id"] for r in rows] == [3, 5]  # 9 cut by k=2 tie-break


def test_hybrid_topk_end_to_end(spark):
    # 4 docs: doc 0 matches the query terms AND has the closest vector;
    # doc 1 lexical-only; doc 2 semantic-only; doc 3 neither.
    docs = spark.createDataFrame(
        [
            (0, "spark window functions in spark"),
            (1, "window seat spark plug spark spark"),
            (2, "completely unrelated words here"),
            (3, "nothing relevant at all"),
        ],
        "doc_id: bigint, text: string",
    )
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.1]),
            (1, [0.0, 1.0, 0.0]),
            (2, [0.9, 0.1, 0.1]),
            (3, [0.0, 0.9, 0.5]),
        ],
        "vec_id: bigint, embedding: array<float>",
    )
    out = hybrid_topk(
        docs,
        "text",
        "doc_id",
        ["spark", "window"],
        [1.0, 0.0, 0.1],
        3,
        vectors=vecs,
        vec_id_col="vec_id",
        pool=4,
    ).collect()
    assert [r["doc_id"] for r in out][0] == 0  # both-legs doc wins
    assert [r["rank"] for r in out] == [1, 2, 3]
    top = out[0]
    assert top["n_lists"] == 2
    assert set(r["doc_id"] for r in out) <= {0, 1, 2, 3}


def test_hybrid_topk_same_table(spark):
    # vectors default to the docs table itself
    docs = spark.createDataFrame(
        [
            (0, "alpha beta", [1.0, 0.0]),
            (1, "beta gamma", [0.0, 1.0]),
        ],
        "doc_id: bigint, text: string, embedding: array<float>",
    )
    out = hybrid_topk(docs, "text", "doc_id", ["alpha"], [1.0, 0.0], 2).collect()
    assert out[0]["doc_id"] == 0
    assert out[0]["n_lists"] == 2
