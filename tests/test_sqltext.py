"""Shared SQL-text helpers and the name-only contract of the SQL-rendered
featurizers and rankers."""

import math

import pytest
from pyspark.sql import functions as F

from pq_vector_spark.functions import text as T
from pq_vector_spark.functions.sqltext import dlit, ident
from pq_vector_spark.operators import dedup as D
from pq_vector_spark.operators.hybrid import hybrid_topk, rrf_fuse


def test_dlit_round_trips_every_double(spark):
    vals = [0.1, -0.0, 5e-324, 1.7976931348623157e308, -2.5e-8, 3.0,
            float("nan"), float("inf"), float("-inf")]
    row = spark.range(1).select(
        *[F.expr(dlit(v)).alias(f"c{i}") for i, v in enumerate(vals)]
    ).first()
    for i, v in enumerate(vals):
        got = row[f"c{i}"]
        if math.isnan(v):
            assert math.isnan(got), i
        else:
            assert got == v and math.copysign(1.0, got) == math.copysign(1.0, v), i


def test_ident_quotes_backticks(spark):
    df = spark.createDataFrame([(1,)], "`we``ird` INT")
    assert df.select(F.expr(ident("we`ird", "t"))).first()[0] == 1


def _docs(spark):
    return spark.createDataFrame(
        [(0, "alpha beta gamma", [1.0, 0.0])],
        "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>",
    )


def _ranked(spark):
    return spark.createDataFrame([(0, 1)], "id BIGINT, rank INT")


NAME_ONLY = {
    "shingles": lambda s, c: D.shingles(c, 3),
    "shingle_hashes": lambda s, c: D.shingle_hashes(c, 3),
    "shingle_token_hashes": lambda s, c: D.shingle_token_hashes(c, 3),
    "minhash_signature": lambda s, c: D.minhash_signature(c, 3, 16),
    "_band_structs": lambda s, c: D._band_structs(c, 4, 4),
    "_token_ngrams": lambda s, c: T._token_ngrams(c, 2),
    "_token_ngrams_upto": lambda s, c: T._token_ngrams_upto(c, 2),
    "bm25_topk": lambda s, c: T.bm25_topk(_docs(s), c, "doc_id", ["alpha"]),
    "rrf_fuse": lambda s, c: rrf_fuse([_ranked(s)], c, 5),
    "hybrid_topk": lambda s, c: hybrid_topk(
        _docs(s), "text", c, ["alpha"], [1.0, 0.0], 1
    ),
}


@pytest.mark.parametrize("name", sorted(NAME_ONLY))
def test_name_only_functions_reject_columns(spark, name):
    with pytest.raises(TypeError, match="pass a column name"):
        NAME_ONLY[name](spark, F.col("text"))
