"""Vector distance expressions — native Catalyst columns, no Python workers.

The reference's ``array_distance(a, b)`` is Euclidean √Σ(aᵢ−bᵢ)² matched by
name in its physical rewrite (reference: src/df_vector/physical.rs:201) and
computed by a 4-way-unrolled scalar kernel (src/ivf/index.rs:459-480).
Spark has no builtin, so we build it from higher-order functions
(``zip_with`` + ``aggregate``) — these stay inside whole-stage codegen on the
JVM, i.e. the hot path never crosses into Python.

Precision contract: every element is cast to DOUBLE *before* arithmetic and
summed left-to-right. That makes results bit-identical to a DuckDB oracle of
shape ``list_reduce(list_transform(list_zip(a,b), …), (x,y)->x+y)`` so the
driver's value-hash gate can compare us exactly (SURVEY.md §2.C).

Reference parity notes:
- f64 query literals are narrowed to the f32 grid by the reference
  (src/df_vector/expr.rs:48-50); we keep stored vectors float32 and cast up
  to double at compute time, which is lossless for float32 inputs.
- null / dim-mismatched rows at query time yield NULL distance (the
  reference skips them silently, src/df_vector/exec.rs:495-528). The top-k
  operators sort with ``asc_nulls_last`` so those rows rank after every
  real neighbour; SQL text passed to ``PqSession.sql`` keeps Spark's own
  ``ORDER BY`` null order (``ASC`` ⇒ NULLS FIRST unless it says otherwise).
"""

from __future__ import annotations

import logging
import math
from typing import Sequence, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from pq_vector_spark.functions.sqltext import dlit, ident

VectorLike = Union[str, Column, Sequence[float]]

_LOG = logging.getLogger("pq_vector_spark.distance")


def _as_vector_col(v: VectorLike) -> Column:
    """Coerce a column name / Column / python list into an array<double> column."""
    if isinstance(v, Column):
        return v.cast("array<double>")
    if isinstance(v, str):
        return F.col(v).cast("array<double>")
    return F.array(*[F.lit(float(x)) for x in v])


# literal queries up to this many dims compile to a flat unrolled expression
# (whole-stage codegen) instead of an interpreted higher-order-function fold.
# Empirically janino compiles the unrolled chain up to 128 dims and fails at
# ≥160 (64 KB method limit) — a failed compile silently falls back to
# interpreted eval, the worst of both worlds, so the limit must sit where
# compilation actually succeeds.
UNROLL_LIMIT = 128

# literal queries wider than UNROLL_LIMIT use an Arrow-batched numpy kernel
# (``_fold`` below), ~3× faster than the interpreted HOF fold at dim 256 on
# 1M rows. This is the sanctioned Python-in-the-hot-path case: built-ins
# genuinely cannot express a codegen-able wide-vector kernel.


def _valid_rows(values, width: int, dtype):
    """``(ok, mat)`` for one Arrow batch of array values: ``ok`` marks the
    rows that are non-NULL with exactly ``width`` elements, ``mat`` stacks
    those rows as an ``(ok.sum(), width)`` matrix of ``dtype``. Invalid rows
    are the reference's silently skipped ones (src/df_vector/exec.rs:
    495-528); every kernel scores them NULL."""
    arrs = np.asarray(values, dtype=object)
    lens = np.fromiter(
        (len(a) if a is not None else -1 for a in arrs), dtype=np.int64, count=len(arrs)
    )
    ok = lens == width
    if not ok.any():
        return ok, np.empty((0, width), dtype=dtype)
    return ok, np.stack(arrs[ok]).astype(dtype)


def _fold(mode: str, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """The ``sq_l2`` / ``dot`` / ``cosine`` score over the last axis of two
    float64 operands that broadcast against each other: ``(m,d)`` with a
    literal ``(d,)``, ``(m,d)`` with ``(m,d)``, or ``(m,1,d)`` with a query
    matrix ``(1,n_q,d)``.

    Precision contract of every Arrow kernel: the loop accumulates PER
    DIMENSION, left to right, in float64 from a 0.0 start — the summation
    order of the ``zip_with``/``aggregate`` fold, the unrolled chain and
    the DuckDB ``list_reduce`` oracle — so each score is bit-identical to
    theirs while each step stays vectorized across rows. Cosine folds both
    norms in the same loop and divides once, ``dot / (√‖a‖² · √‖b‖²)``; a
    zero norm gives NaN, as the native path does."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    if mode == "cosine":
        na, nb = np.zeros(a.shape[:-1]), np.zeros(b.shape[:-1])
    for j in range(a.shape[-1]):
        x, y = a[..., j], b[..., j]
        if mode == "sq_l2":
            d = x - y
            acc += d * d
        else:
            acc += x * y
            if mode == "cosine":
                na += x * x
                nb += y * y
    if mode == "cosine":
        return acc / (np.sqrt(na) * np.sqrt(nb))
    return acc


def _scored(ok: np.ndarray, scores: np.ndarray) -> pd.Series:
    """The output rule of every scalar Arrow kernel: ``scores`` fill the
    ``ok`` rows and only the invalid rows become NULL. A NaN score (cosine
    of a zero-norm vector) stays NaN, as in the native fold, where Spark
    ranks it above every double; an explicit mask keeps Arrow from turning
    it into NULL (``pd.array`` would coerce every NaN to NA)."""
    out = np.full(len(ok), np.nan)
    out[ok] = scores
    return pd.Series(pd.arrays.FloatingArray(out, mask=~ok))


def _arrow_fold_kernel(q, mode: str):
    from pyspark.sql.types import DoubleType

    qd = np.asarray([float(x) for x in q], dtype=np.float64)

    @F.pandas_udf(DoubleType())
    def _k(v: pd.Series) -> pd.Series:
        ok, mat = _valid_rows(v, qd.shape[0], np.float64)
        return _scored(ok, _fold(mode, mat, qd))

    return _k


def _arrow_fold_kernel2(mode: str):
    """Two-COLUMN variant of the wide-vector kernel (no literal side), used
    when a dim hint says the vectors are too wide for codegen (col-col dims
    aren't knowable at plan time). Precision: see ``_fold``."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _k(va: pd.Series, vb: pd.Series) -> pd.Series:
        aa, bb = va.to_numpy(), vb.to_numpy()
        ok = np.zeros(len(aa), dtype=bool)
        scores = np.full(len(aa), np.nan)
        for d in {len(x) for x in aa if x is not None}:
            oka, ma = _valid_rows(aa, d, np.float64)
            okb, mb = _valid_rows(bb, d, np.float64)
            sel = oka & okb
            scores[sel] = _fold(mode, ma[okb[oka]], mb[oka[okb]])
            ok |= sel
        return _scored(ok, scores[ok])

    return _k


def _arrow_multi_kernel(qmat, mode: str):
    """N-query batch kernel: ONE pass over the vector column computes the
    distance to every row of the (n_q × d) literal query matrix, returning
    an array<double> of n_q scores per row (precision: see ``_fold``).
    This is the scale shape for batch KNN: the corpus crosses the Arrow
    boundary once, not once per query (a cross join transfers it n_q×)."""
    from pyspark.sql.types import ArrayType, DoubleType

    Q = np.asarray(qmat, dtype=np.float64)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _k(v: pd.Series) -> pd.Series:
        ok, mat = _valid_rows(v, Q.shape[1], np.float64)
        acc = _fold(mode, mat[:, None, :], Q[None, :, :])  # (m, n_q)
        # dim mismatch / null input ⇒ NULL array, same as the scalar kernels
        out = np.empty(len(ok), dtype=object)
        for i, row in zip(np.nonzero(ok)[0], acc):
            out[i] = row.tolist()
        return pd.Series(out)

    return _k


# total unrolled terms (n_q × dim) allowed before the batch scorer abandons
# native codegen for the Arrow matrix kernel — each per-query expression
# stays under UNROLL_LIMIT, but the scores-array lives inside a Generate
# (posexplode) node whose whole-stage method must swallow ALL of them at
# once. Empirically 5 × 64 = 320 terms already blows the janino method
# limit there (17k-line generated class, ERROR + silent interpreted
# fallback), so the budget is the single-expression limit: beyond it the
# Arrow matrix kernel is both safer and faster.
MULTI_UNROLL_BUDGET = 128


def multi_distances(vec: VectorLike, qmat, metric: str = "l2") -> Column:
    """array<double> of per-query scores for a literal (n_q × d) query
    matrix — the scalar native expressions (unrolled for a column name)
    when the total term count fits the codegen budget, the Arrow matrix
    kernel otherwise. Element i is bit-identical to the scalar
    ``array_distance``/``dot_product``/``cosine_similarity`` against query
    row i."""
    rows = [list(q) for q in qmat]
    if not rows:
        raise ValueError("qmat must contain at least one query vector")
    dim = len(rows[0])
    if any(len(r) != dim for r in rows):
        raise ValueError("all query vectors must share one dimension")
    scalar = {"l2": array_distance, "sq_l2": squared_l2, "dot": dot_product,
              "cosine": cosine_similarity}
    if metric not in scalar:
        raise ValueError(f"unknown metric {metric!r}")
    if dim <= UNROLL_LIMIT and len(rows) * dim <= MULTI_UNROLL_BUDGET:
        return F.array(*[scalar[metric](vec, r) for r in rows])
    mode = {"l2": "sq_l2", "sq_l2": "sq_l2", "dot": "dot", "cosine": "cosine"}[metric]
    scores = _arrow_multi_kernel(rows, mode)(_raw(vec))
    # Arrow's list conversion nulls NaN ELEMENTS (pa.Array.from_pandas
    # nan_as_null applies inside lists too). The kernel never emits a null
    # element on purpose — bad rows become a null ARRAY — so any null
    # element is a converted NaN score: coalesce it back to keep parity
    # with the native F.array(...) branch above.
    scores = F.transform(scores, lambda s: F.coalesce(s, F.lit(float("nan"))))
    if metric == "l2":
        scores = F.transform(scores, lambda s: F.sqrt(s))
    return scores


def _is_literal_vec(v: VectorLike) -> bool:
    return not isinstance(v, (str, Column)) and hasattr(v, "__len__")


def _raw(v) -> Column:
    return F.col(v) if isinstance(v, str) else v


def _unrolled_expr(kind: str, name: str, q) -> Column:
    """The unrolled literal-query chain over the column ``name``, parsed in
    one call (see functions/sqltext.py). ``+`` is left-associative, so the
    chain sums in the fold's order and results are bit-identical to it; the
    size guard keeps the dim-mismatch ⇒ NULL semantics of ``zip_with``.
    Each extracted ELEMENT is cast, never the whole array — an array cast
    inside the chain would be re-evaluated once per term."""
    base = ident(name, kind)
    elem = [f"CAST({base}[{i}] AS DOUBLE)" for i in range(len(q))]
    if kind == "sq_l2":
        terms = [f"({e} - {dlit(x)}) * ({e} - {dlit(x)})" for e, x in zip(elem, q)]
    elif kind == "dot":
        terms = [f"({e} * {dlit(x)})" for e, x in zip(elem, q)]
    else:  # "norm_sq": q is ignored beyond its length
        terms = [f"({e} * {e})" for e in elem]
    return F.expr(f"CASE WHEN size({base}) = {len(q)} THEN {' + '.join(terms)} END")


def squared_l2(a: VectorLike, b: VectorLike, *, dim_hint: int | None = None) -> Column:
    """Σ(aᵢ−bᵢ)² as a native column expression.

    ``dim_hint``: for COLUMN-vs-COLUMN inputs the width isn't knowable at
    plan time; callers that do know it (e.g. the IVF join reads it from the
    index meta) pass it so wide vectors route to the Arrow kernel instead
    of the interpreted fold. Results are bit-identical either way.

    ≙ reference ``squared_l2_distance`` (src/ivf/index.rs:459-480). The
    fold is sequential left-to-right with a 0.0 initial accumulator, which
    is bit-equivalent to DuckDB's ``list_reduce`` fold (0.0 + x == x).

    Fast path: a column NAME against a literal query vector unrolls into a
    flat ``(a[0]−q₀)² + (a[1]−q₁)² + …`` expression — higher-order functions
    are interpreted row-at-a-time in Spark, but the unrolled chain runs
    inside whole-stage codegen (~10× on wide vectors). Addition order is
    identical, so both paths produce bit-identical doubles.
    """
    if _is_literal_vec(b) and not _is_literal_vec(a):
        if len(b) > UNROLL_LIMIT:
            return _arrow_fold_kernel(b, "sq_l2")(_raw(a))
        if isinstance(a, str) and len(b) > 0:
            return _unrolled_expr("sq_l2", a, b)
    if (
        dim_hint is not None
        and dim_hint > UNROLL_LIMIT
        and not _is_literal_vec(a)
        and not _is_literal_vec(b)
    ):
        return _arrow_fold_kernel2("sq_l2")(_raw(a), _raw(b))
    ca, cb = _as_vector_col(a), _as_vector_col(b)
    diffs = F.zip_with(ca, cb, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def array_distance(a: VectorLike, b: VectorLike, *, dim_hint: int | None = None) -> Column:
    """Euclidean distance √Σ(aᵢ−bᵢ)².

    Same name + semantics as the DataFusion builtin the reference matches on
    (src/df_vector/physical.rs:198-229); the reference reports √d² on its
    direct path too (src/ivf/search.rs:133).
    """
    return F.sqrt(squared_l2(a, b, dim_hint=dim_hint))


def dot_product(a: VectorLike, b: VectorLike, *, dim_hint: int | None = None) -> Column:
    """Σ aᵢ·bᵢ as a native expression (basis for cosine). Same literal-query
    unrolled fast path (and bit-parity guarantee) as ``squared_l2``."""
    if _is_literal_vec(b) and not _is_literal_vec(a):
        if len(b) > UNROLL_LIMIT:
            return _arrow_fold_kernel(b, "dot")(_raw(a))
        if isinstance(a, str) and len(b) > 0:
            return _unrolled_expr("dot", a, b)
    if (
        dim_hint is not None
        and dim_hint > UNROLL_LIMIT
        and not _is_literal_vec(a)
        and not _is_literal_vec(b)
    ):
        return _arrow_fold_kernel2("dot")(_raw(a), _raw(b))
    ca, cb = _as_vector_col(a), _as_vector_col(b)
    prods = F.zip_with(ca, cb, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: VectorLike, dim: int | None = None) -> Column:
    """‖a‖. For a column name with a known ``dim`` (≤ UNROLL_LIMIT) the
    square-sum unrolls into codegen like the other kernels; otherwise an
    interpreted fold."""
    if _is_literal_vec(a):
        # fold the literal norm in Python: the same left-to-right IEEE-double
        # fold Catalyst would constant-fold, plus a correctly-rounded sqrt
        # (math.sqrt ≡ Math.sqrt), so the Literal is bit-equal
        acc = 0.0
        for x in a:
            xf = float(x)
            acc = acc + xf * xf
        return F.lit(float("nan") if math.isnan(acc) else math.sqrt(acc))
    if isinstance(a, str) and dim is not None and 0 < dim <= UNROLL_LIMIT:
        return F.sqrt(_unrolled_expr("norm_sq", a, [0.0] * dim))
    ca = _raw(a).cast("array<double>")
    sq = F.aggregate(F.transform(ca, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    return F.sqrt(sq)


def cosine_similarity(a: VectorLike, b: VectorLike, *, dim_hint: int | None = None) -> Column:
    """cos(a,b) = a·b / (‖a‖‖b‖). Beyond the reference surface (it is
    L2-only, SURVEY.md §2 'explicitly absent'), needed by the near-dup and
    ANN extension operators. A literal query fixes the dimension, letting
    the column-side norm unroll into codegen too. Wide literal queries
    (dim > UNROLL_LIMIT) run the fused Arrow kernel — one Python eval, not
    three."""
    if _is_literal_vec(b) and not _is_literal_vec(a) and len(b) > UNROLL_LIMIT:
        return _arrow_fold_kernel(b, "cosine")(_raw(a))
    if (
        dim_hint is not None
        and dim_hint > UNROLL_LIMIT
        and not _is_literal_vec(a)
        and not _is_literal_vec(b)
    ):
        return _arrow_fold_kernel2("cosine")(_raw(a), _raw(b))
    dim = len(b) if _is_literal_vec(b) and not _is_literal_vec(a) else None
    denom = l2_norm(a, dim=dim) * l2_norm(b)
    # zero-norm input ⇒ 0/0: ANSI mode would raise DIVIDE_BY_ZERO, but a
    # zero norm forces dot == 0 too, so the IEEE (and numpy/DuckDB/Arrow-
    # kernel) answer is NaN — emit it explicitly. NULL vectors still give
    # NULL (denom == 0 is NULL there, so the otherwise branch's division
    # propagates the NULL without evaluating a /0).
    return F.when(denom == 0, F.lit(float("nan"))).otherwise(dot_product(a, b) / denom)


# The SQL text of each distance function as a native higher-order-function
# fold over ``{a}`` and ``{b}``. ``register_sql_functions`` registers these
# bodies as SQL functions, ``plans/sql.expand_vector_functions`` inlines them
# into query text (Spark 4 forbids SQL scalar UDFs inside Sort), and
# ``plans/intercept`` matches the plans they produce.
_SQ_FOLD = (
    "aggregate(zip_with(cast({a} as array<double>), cast({b} as array<double>),"
    " (x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, x) -> acc + x)"
)
_DOT_FOLD = (
    "aggregate(zip_with(cast({a} as array<double>), cast({b} as array<double>),"
    " (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
)
_NORM_FOLD = (
    "sqrt(aggregate(transform(cast({v} as array<double>), x -> x * x),"
    " cast(0.0 as double), (acc, x) -> acc + x))"
)
SQL_FOLDS = {
    "squared_l2": _SQ_FOLD,
    "array_distance": f"sqrt({_SQ_FOLD})",
    "dot_product": _DOT_FOLD,
    # zero-norm ⇒ 0/0 ⇒ NaN (never an ANSI DIVIDE_BY_ZERO; NULL stays NULL:
    # a NULL denom takes the ELSE branch, whose division propagates it). The
    # O(d) denominator is bound ONCE through a single-element transform
    # lambda: Catalyst's subexpression elimination does not dedupe across
    # CASE branches, so the naive CASE form evaluated both norms twice.
    "cosine_similarity": (
        "transform(array(("
        + _NORM_FOLD.format(v="{a}")
        + " * "
        + _NORM_FOLD.format(v="{b}")
        + ")), _pq_d -> CASE WHEN _pq_d = 0 THEN cast('NaN' as double) ELSE "
        + _DOT_FOLD
        + " / _pq_d END)[0]"
    ),
}


def register_sql_functions(spark: SparkSession) -> None:
    """Expose the distance functions to SQL text queries.

    ≙ the reference registering its rewrite + array functions on the session
    (src/df_vector/session.rs:16-35): SQL functions whose bodies are the
    ``SQL_FOLDS`` folds, so ``spark.sql("SELECT array_distance(vec,
    array(...)) ...")`` works verbatim outside ORDER BY. A Spark build that
    rejects ``CREATE TEMPORARY FUNCTION`` logs a warning; ``pq_sql`` still
    works there, because it inlines the folds into the query text.
    """
    from pyspark.errors import AnalysisException

    for name, fold in SQL_FOLDS.items():
        try:
            spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) "
                f"RETURNS DOUBLE RETURN {fold.format(a='a', b='b')}"
            )
        except AnalysisException as e:
            _LOG.warning(
                "SQL function %s not registered (%s); plain spark.sql cannot "
                "call it, pq_sql inlines it", name, e,
            )
