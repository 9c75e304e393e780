"""Hybrid lexical + vector retrieval with reciprocal-rank fusion (RRF) —
the fusion step every modern retrieval stack puts on top of a BM25 list
and an embedding list (north-star extension; the reference ships the two
halves — SQL relational + vector top-k — but no fusion operator).

RRF (Cormack/Clarke/Buettcher, SIGIR'09): each candidate list contributes
``1 / (k_rrf + rank)``; candidates missing from a list contribute nothing
from it. Rank-based fusion needs no score calibration between BM25 and
cosine — which is precisely why it is the default in production hybrid
search.

Scale shape: both stages are already bounded-top-``pool`` lists (BM25's
TakeOrdered heap, cosine's TakeOrdered heap), so the fusion join touches
2·pool rows total regardless of corpus size — driver-negligible, executed
as a broadcast-sized full-outer join. The corpus is scanned once per leg,
each leg in its optimal plan (exploded-term filter for BM25, map-side
distance fold for cosine).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame

from pq_vector_spark.functions.sqltext import dlit, ident
from pq_vector_spark.functions.text import bm25_topk
from pq_vector_spark.operators.similarity import cosine_topk

RRF_K = 60  # the SIGIR'09 constant; callers override via k_rrf


def rrf_fuse(
    ranked: Sequence[DataFrame],
    id_col: str,
    k: int,
    *,
    k_rrf: int = RRF_K,
) -> DataFrame:
    """Fuse N (id, rank) lists by reciprocal-rank score.

    Each input must carry ``id_col`` and an integer ``rank`` (1-based).
    Output: (id, rrf_score, n_lists) top-k by (score desc, id asc). Built
    as one ``spark.sql`` call over the column name ``id_col`` (see
    functions/sqltext.py).
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    iref = ident(id_col, "rrf_fuse")
    leg_sql = [
        f"SELECT {iref} AS _id, {_contrib_sql(k_rrf)} AS _contrib FROM {{leg{i}}}"
        for i in range(len(ranked))
    ]
    q = (
        "WITH allrows AS (\n"
        + "\nUNION ALL\n".join(leg_sql)
        + "\n),\nfused AS (\n"
        "  SELECT _id, SUM(_contrib) AS rrf_score,\n"
        "         CAST(count(1) AS INT) AS n_lists\n"
        "  FROM allrows GROUP BY _id\n"
        ")\n"
        f"SELECT _id AS {iref}, rrf_score, n_lists FROM (\n"
        f"  SELECT * FROM fused ORDER BY rrf_score DESC, _id ASC LIMIT {int(k)}\n"
        ")"
    )
    kwargs = {f"leg{i}": df for i, df in enumerate(ranked)}
    return ranked[0].sparkSession.sql(q, **kwargs)


def _contrib_sql(k_rrf) -> str:
    return f"{dlit(1.0)} / ({dlit(k_rrf)} + CAST(rank AS DOUBLE))"


def hybrid_topk(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: Sequence[str],
    query_vec: Sequence[float],
    k: int,
    *,
    vectors: Optional[DataFrame] = None,
    vec_col: str = "embedding",
    vec_id_col: Optional[str] = None,
    pool: Optional[int] = None,
    k_rrf: int = RRF_K,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Hybrid search: BM25 top-``pool`` ∪ cosine top-``pool`` → RRF top-k.

    ``vectors`` defaults to ``docs`` itself (when the table carries both
    text and an embedding column); pass a separate embeddings table plus
    ``vec_id_col`` for the split-table layout. ``pool`` defaults to 4·k —
    the usual fusion depth (deep enough that a result in the other list's
    tail still contributes).

    The two candidate lists are each bounded heaps over a single corpus
    scan; the single-partition rank windows that number them run over
    ≤ pool pre-limited rows, so the fusion stage's cost is O(pool), not
    O(corpus). Everything downstream of the two lists (rank windows,
    union, RRF aggregation, top-k, final rank) is one ``spark.sql`` call
    over column names (see functions/sqltext.py).

    Output: (id, rrf_score, n_lists, rank) — rank is the final 1-based
    hybrid position.
    """
    pool = pool or 4 * k
    vecs = vectors if vectors is not None else docs
    vid = vec_id_col or id_col
    iref, vref = ident(id_col, "hybrid_topk"), ident(vid, "hybrid_topk")

    lex = bm25_topk(docs, text_col, id_col, query_terms, k=pool, k1=k1, b=b)
    sem = cosine_topk(vecs, vec_col, list(query_vec), pool, id_col=vid)

    contrib = _contrib_sql(k_rrf)
    q = f"""
WITH lexr AS (
  SELECT {iref} AS _hid, CAST(row_number() OVER
    (ORDER BY `score` DESC, {iref} ASC) AS INT) AS rank FROM {{lex}}
),
semr AS (
  SELECT {vref} AS _hid, CAST(row_number() OVER
    (ORDER BY `cosine` DESC, {vref} ASC) AS INT) AS rank FROM {{sem}}
),
allrows AS (
  SELECT _hid AS _id, {contrib} AS _contrib FROM lexr
  UNION ALL
  SELECT _hid AS _id, {contrib} AS _contrib FROM semr
),
fused AS (
  SELECT _id, SUM(_contrib) AS rrf_score, CAST(count(1) AS INT) AS n_lists
  FROM allrows GROUP BY _id
),
topk AS (
  SELECT _id AS _hid, rrf_score, n_lists FROM (
    SELECT * FROM fused ORDER BY rrf_score DESC, _id ASC LIMIT {int(k)}
  )
)
SELECT _hid AS {iref}, ROUND(rrf_score, 6) AS rrf_score, n_lists, rank
FROM (
  SELECT *, CAST(row_number() OVER
    (ORDER BY rrf_score DESC, _hid ASC) AS INT) AS rank FROM topk
)
"""
    return lex.sparkSession.sql(q, lex=lex, sem=sem)
