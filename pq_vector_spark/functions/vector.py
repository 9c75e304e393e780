"""Vector-column utilities beyond distance kernels: L2 normalization and
grouped centroid pooling (north-star extension — class prototypes /
nearest-class-mean analytics over an embedding corpus).

Scale design (100 TB):
- ``l2_normalize`` is a pure map-side expression (one bound-once fold for
  the norm; whole-stage codegen) — no shuffle, pushes through scans.
- ``group_centroids`` never materializes per-group vector lists (a
  ``collect_list`` of embeddings is the classic OOM at scale). It
  posexplodes to (group, dim, value) and runs TWO combiner-friendly hash
  aggregations: per-(group, dim) running sums are partially aggregated
  map-side, so the exchanges carry O(groups × dim), not O(rows × dim).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pq_vector_spark.functions.distance import _valid_rows, array_distance


def l2_normalize(col) -> Column:
    """Unit-L2-normalized copy of an array<float/double> column (double
    elements). Zero vectors (norm 0) yield NULL elements rather than ±inf.
    The input array is bound once via a 1-element ``transform`` so the norm
    fold does not re-evaluate the source expression per element."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        F.array(c),
        lambda v: F.transform(
            v,
            lambda x: F.try_divide(
                x.cast("double"),
                F.sqrt(
                    F.aggregate(
                        v,
                        F.lit(0.0),
                        lambda acc, y: acc + y.cast("double") * y.cast("double"),
                    )
                ),
            ),
        ),
    )[0]


def group_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    *,
    decimals: int = 4,
    long_format: bool = False,
) -> DataFrame:
    """Per-group mean vector (the class prototype): (group, n_vectors,
    centroid array<double>).

    With ``long_format=True`` the array re-assembly is skipped and the
    per-dimension stage is returned directly as scalar columns
    (group, dim_idx, mean, n_vectors) — one row per (group, dimension).
    This is the shape downstream tabular consumers (and the driver's
    value-hash canonicalizer, which requires hashable scalar cells) want,
    and it is strictly cheaper: the second group-by and the collect_list
    re-assembly never run.

    Means are rounded to ``decimals`` places — the repo's standard guard
    (cf. rel_agg) against summation-order ulp drift, since float addition
    is not associative across partitions.

    Plan: posexplode → groupBy(group, dim) avg → groupBy(group) ordered
    re-assembly. NULL vectors are dropped (consistent with the distance
    kernels' null contract); ragged arrays would surface as centroid
    positions with smaller counts — guarded by the same schema validation
    as the index build.
    """
    g = F.col(group_col)
    exploded = df.filter(F.col(vec_col).isNotNull()).select(
        g.alias("_g"), F.posexplode(F.col(vec_col)).alias("_i", "_x")
    )
    per_dim = exploded.groupBy("_g", "_i").agg(
        F.round(F.avg(F.col("_x").cast("double")), decimals).alias("_m"),
        F.count(F.lit(1)).cast("bigint").alias("_n"),
    )
    if long_format:
        return per_dim.select(
            F.col("_g").alias(group_col),
            F.col("_i").alias("dim_idx"),
            F.col("_m").alias("mean"),
            F.col("_n").alias("n_vectors"),
        )
    return (
        per_dim.groupBy("_g")
        .agg(
            F.max("_n").alias("n_vectors"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("_i", "_m"))),
                lambda s: s["_m"],
            ).alias("centroid"),
        )
        .select(F.col("_g").alias(group_col), "n_vectors", "centroid")
    )


def embedding_outliers(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    id_col: str,
    *,
    k: int = 5,
    decimals: int = 4,
) -> DataFrame:
    """Per-group embedding outliers: the k vectors farthest from their
    group's centroid — the mislabeled/corrupt-embedding detector a corpus
    runs before training (a vector far from its class prototype is a
    labeling or pipeline error candidate).

    Composition: ``group_centroids`` (tiny: groups × dim) BROADCAST back
    onto the corpus, distance computed map-side with the engine's exact
    L2 kernel, per-group top-k via a WindowGroupLimit-prunable rank (each
    map task pre-prunes to its local k before the one group-keyed
    shuffle). The corpus never joins anything non-broadcast.

    Distances are rounded to ``decimals`` (matching the rounded centroid);
    ties break by id ascending for full determinism.
    """
    from pyspark.sql import Window


    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    cents = group_centroids(df, group_col, vec_col, decimals=decimals)
    joined = df.filter(F.col(vec_col).isNotNull()).join(
        F.broadcast(cents.select(group_col, "centroid")), group_col
    )
    dist = F.round(array_distance(F.col(vec_col), F.col("centroid")), decimals)
    w = Window.partitionBy(group_col).orderBy(
        dist.desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("dist", dist)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.lit(int(k)))
        .select(group_col, id_col, "dist")
    )


def norm_stats(
    df: DataFrame,
    vec_col: str,
    group_col: str,
    *,
    decimals: int = 4,
) -> DataFrame:
    """Per-group L2-norm distribution of an embedding column: (group,
    n_vectors, n_null, mean_norm, p50_norm, p95_norm) — the embedding
    pipeline's vital sign (a collapsing or exploding norm distribution is
    the first symptom of a broken encoder or a bad normalization step;
    checked before any similarity math trusts the vectors).

    Map-side norm fold (bound once) + ONE group aggregation; exact
    percentiles aggregate a value→count map (norms rounded to ``decimals``
    first, so the map's cardinality is bounded at any corpus size — the
    same trade as ``length_quantiles``)."""
    c = F.col(vec_col)
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
        decimals,
    )
    g = df.select(
        F.col(group_col).alias("_g"),
        F.when(c.isNull(), None).otherwise(norm).alias("_n"),
    )
    return (
        g.groupBy("_g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum(F.when(F.col("_n").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null"),
            F.round(F.avg("_n"), decimals).alias("mean_norm"),
            F.round(F.percentile(F.col("_n"), F.lit(0.5)), decimals).alias("p50_norm"),
            F.round(F.percentile(F.col("_n"), F.lit(0.95)), decimals).alias(
                "p95_norm"
            ),
        )
        .select(
            F.col("_g").alias(group_col),
            "n_vectors",
            "n_null",
            "mean_norm",
            "p50_norm",
            "p95_norm",
        )
    )


def random_projection_matrix(source_dim: int, target_dim: int, seed: int = 42):
    """Seeded Gaussian Johnson-Lindenstrauss projection matrix
    (target_dim × source_dim, entries N(0, 1/target_dim)) as plain Python
    floats — deterministic given (dims, seed), so an external engine (the
    DuckDB oracle) can be handed the IDENTICAL literals and replay the
    projection bit-for-bit."""
    import numpy as np

    if not (0 < target_dim <= source_dim):
        raise ValueError(
            f"target_dim must be in (0, {source_dim}], got {target_dim}"
        )
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((target_dim, source_dim)) / float(target_dim) ** 0.5
    return [[float(v) for v in row] for row in m]


_PANDAS_TARGET_THRESHOLD = 128


def project_vectors(
    df: DataFrame,
    column: str,
    matrix,
    *,
    out_col: str = "projected",
    method: str = "auto",
) -> DataFrame:
    """Dense linear projection of an embedding column: y_j = Σ_i x_i·M[j][i]
    — dimensionality reduction ahead of indexing/storage (the classic JL /
    PCA step: a 768-dim corpus indexed at 64 dims costs 12× less I/O per
    candidate at modest recall loss; pair with ``random_projection_matrix``
    or ``pca_components``).

    Two execution paths, both shuffle-free map-side projections:

    - ``"expression"`` — one native zip_with/aggregate fold per output
      dimension, whole plan JVM-side, column-pruned like any projection.
      Doubles fold left-to-right in element order, so the DuckDB oracle
      given the same matrix literals reproduces every output bit. Right for
      the 8-64 targets ANN reduction uses; toward 256+ output dims the
      per-dim expressions outgrow whole-stage codegen limits.
    - ``"pandas"`` — one Arrow-batched pandas-UDF matmul: the matrix rides
      the closure (target×source doubles — KBs to a few MB), each batch is
      a single BLAS ``gemm``. Constant plan size at any target width, but
      summation order is BLAS-internal — results match the expression path
      to ~1 ulp per element, NOT bit-for-bit (use ``"expression"`` when an
      external engine must replay exactly).

    ``method="auto"`` picks ``"pandas"`` above ``128`` output dims, else
    ``"expression"``.

    NULL contract (both paths): a NULL vector, or one whose length differs
    from the matrix width, yields a NULL ``out_col`` — explicit, instead of
    zip_with's silent NULL-padding arithmetic.
    """
    if method not in ("auto", "expression", "pandas"):
        raise ValueError(f"method must be auto|expression|pandas, got {method!r}")
    rows = [[float(v) for v in row] for row in matrix]
    if not rows:
        raise ValueError("matrix must have at least one output row")
    width = {len(r) for r in rows}
    if len(width) != 1:
        raise ValueError(f"matrix rows have inconsistent widths: {sorted(width)}")
    w = width.pop()
    if method == "auto":
        method = "pandas" if len(rows) > _PANDAS_TARGET_THRESHOLD else "expression"

    if method == "pandas":
        return df.withColumn(out_col, _project_pandas(column, rows, w))

    c = F.col(column)
    outs = [
        F.aggregate(
            F.zip_with(
                c,
                F.array(*[F.lit(v) for v in row]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for row in rows
    ]
    return df.withColumn(
        out_col,
        F.when(F.size(c) == F.lit(w), F.array(*outs)),
    )


def _project_pandas(column: str, rows, width: int):
    """Arrow-batched matmul projection column (see ``project_vectors``)."""
    mt = np.asarray(rows, dtype=np.float64).T  # (source, target)

    @F.pandas_udf("array<double>")
    def _mm(v: pd.Series) -> pd.Series:
        ok, mat = _valid_rows(v, width, np.float64)  # (n, source)
        out = np.empty(len(ok), dtype=object)
        for i, row in zip(np.nonzero(ok)[0], mat @ mt):  # (n, target)
            out[i] = row
        return pd.Series(out)

    return _mm(F.col(column).cast("array<double>"))


def pca_components(
    df: DataFrame,
    column: str,
    k: int,
    *,
    sample_cap: int = 100_000,
    seed: int = 42,
):
    """Top-k PCA components of an embedding column, driver-side SVD over a
    seeded uniform sample (the same bounded-driver-state trade as the IVF
    k-means trainer, index/build.py:sample_embeddings_to_driver — never the
    corpus). Returns ``(components, mean)``: ``components`` is a k ×
    source_dim list-of-lists ready for ``project_vectors`` (center with
    ``mean`` first for true PCA, or skip centering for a cheap approximate
    reduction), both plain floats so oracles/other engines can replay.
    """
    import numpy as np

    from pq_vector_spark.index.build import sample_embeddings_to_driver
    from pq_vector_spark.schema import validate_vector_column

    stats = validate_vector_column(df, column)
    if not (0 < k <= stats.dim):
        raise ValueError(f"k must be in (0, {stats.dim}], got {k}")
    target = min(max(stats.rows // 20, k, 1), sample_cap)
    sample = sample_embeddings_to_driver(df, column, target, stats.rows, seed)
    if sample.shape[0] < k:
        # svd would silently yield fewer than k components — a shape
        # mismatch downstream; fail loudly instead
        raise ValueError(
            f"PCA sample has {sample.shape[0]} rows < k={k}; lower k or "
            f"raise sample_cap"
        )
    mu = sample.mean(axis=0)
    _, _, vt = np.linalg.svd(sample - mu, full_matrices=False)
    comps = [[float(v) for v in row] for row in vt[:k]]
    return comps, [float(v) for v in mu]
