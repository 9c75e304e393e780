"""Similarity-search operator tests (north-star extension)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pq_vector_spark.index.build import build_index
from pq_vector_spark.operators.similarity import (
    cosine_topk,
    ivf_similarity_join,
    similarity_join,
)
from pq_vector_spark.session import IndexBuildOptions


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(5)
    rows = [(int(i), [float(x) for x in rng.random(6, dtype=np.float32)]) for i in range(300)]
    return spark.createDataFrame(rows, "cid BIGINT, vec ARRAY<FLOAT>")


def test_cosine_topk(spark, corpus):
    out = cosine_topk(corpus, "vec", [1.0] * 6, 5, id_col="cid").collect()
    assert len(out) == 5
    sims = [r["cosine"] for r in out]
    assert sims == sorted(sims, reverse=True)


def test_similarity_join_l2(spark, corpus):
    queries = corpus.filter(F.col("cid") < 3).select(
        F.col("cid").alias("qid"), F.col("vec").alias("qv")
    )
    out = similarity_join(queries, corpus, "qid", "cid", "qv", "vec", 4, metric="l2")
    rows = out.collect()
    assert len(rows) == 3 * 4
    # self-match is rank 1 at distance 0
    best = {r["qid"]: r for r in rows if r["rank"] == 1}
    for qid, r in best.items():
        assert r["cid"] == qid
        assert r["score"] == pytest.approx(0.0)


def test_similarity_join_broadcasts(spark, corpus):
    """The query side must broadcast — corpus never shuffles."""
    queries = corpus.limit(2).select(F.col("cid").alias("qid"), F.col("vec").alias("qv"))
    out = similarity_join(queries, corpus, "qid", "cid", "qv", "vec", 2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ivf_similarity_join(spark, corpus, tmp_path_factory):
    base = tmp_path_factory.mktemp("simidx")
    src = str(base / "corpus.parquet")
    out_path = str(base / "indexed")
    corpus.write.mode("overwrite").parquet(src)
    build_index(spark, src, out_path, column="vec", options=IndexBuildOptions(n_clusters=8))

    queries = corpus.filter(F.col("cid") < 3).select(
        F.col("cid").alias("qid"), "vec"
    )
    out = ivf_similarity_join(
        queries, out_path, spark, "qid", "vec", k=3, corpus_id="cid", nprobe=8
    ).collect()
    # nprobe = n_clusters ⇒ all clusters probed ⇒ self-match present at rank 1
    best = {r["qid"]: r for r in out if r["rank"] == 1}
    assert len(out) == 9
    for qid in (0, 1, 2):
        assert best[qid]["cid"] == qid
        assert best[qid]["score"] == pytest.approx(0.0)


def test_ivf_similarity_join_is_distributed(spark, corpus, tmp_path_factory):
    """The probe side must stay a lazy plan over the query DataFrame —
    no collect()/createDataFrame (which would show up as a LocalTableScan /
    LocalRelation leaf); the probe itself is the ArrowEvalPython pandas UDF."""
    base = tmp_path_factory.mktemp("simidx_dist")
    src = str(base / "corpus.parquet")
    out_path = str(base / "indexed")
    corpus.write.mode("overwrite").parquet(src)
    build_index(spark, src, out_path, column="vec", options=IndexBuildOptions(n_clusters=8))

    queries = corpus.filter(F.col("cid") < 3).select(F.col("cid").alias("qid"), "vec")
    out = ivf_similarity_join(queries, out_path, spark, "qid", "vec", k=2, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan


def test_ivf_similarity_join_nonint_query_id(spark, corpus, tmp_path_factory):
    """Query-id type is derived from the schema (the old path hardcoded
    BIGINT and broke on strings)."""
    base = tmp_path_factory.mktemp("simidx_str")
    src = str(base / "corpus.parquet")
    out_path = str(base / "indexed")
    corpus.write.mode("overwrite").parquet(src)
    build_index(spark, src, out_path, column="vec", options=IndexBuildOptions(n_clusters=8))

    queries = (
        corpus.filter(F.col("cid") < 2)
        .select(F.concat(F.lit("q-"), F.col("cid")).alias("qid"), "vec")
    )
    rows = ivf_similarity_join(
        queries, out_path, spark, "qid", "vec", k=2, corpus_id="cid", nprobe=8
    ).collect()
    assert len(rows) == 4
    assert {r["qid"] for r in rows} == {"q-0", "q-1"}
    assert dict(ivf_similarity_join(
        queries, out_path, spark, "qid", "vec", k=1, corpus_id="cid", nprobe=8
    ).select("qid", "cid").collect()) == {"q-0": 0, "q-1": 1}


def test_ivf_similarity_join_prune_scan_same_results(spark, corpus, tmp_path_factory):
    """prune_scan only skips clusters the probe never touches — results are
    identical with it on or off, at any nprobe."""
    base = tmp_path_factory.mktemp("simidx_prune")
    src = str(base / "corpus.parquet")
    out_path = str(base / "indexed")
    corpus.write.mode("overwrite").parquet(src)
    build_index(spark, src, out_path, column="vec", options=IndexBuildOptions(n_clusters=8))

    queries = corpus.filter(F.col("cid") < 4).select(F.col("cid").alias("qid"), "vec")
    for nprobe in (2, 8):
        on = ivf_similarity_join(
            queries, out_path, spark, "qid", "vec", k=3, corpus_id="cid",
            nprobe=nprobe, prune_scan=True,
        ).collect()
        off = ivf_similarity_join(
            queries, out_path, spark, "qid", "vec", k=3, corpus_id="cid",
            nprobe=nprobe, prune_scan=False,
        ).collect()
        key = lambda r: (r["qid"], r["rank"])
        assert sorted(on, key=key) == sorted(off, key=key)


def test_ivf_similarity_join_prune_scan_pushes_filter(spark, corpus, tmp_path_factory):
    """With few queries and nprobe < n_clusters the pruned plan must carry a
    cluster_id IN (...) filter pushed into the parquet scan."""
    base = tmp_path_factory.mktemp("simidx_prune_plan")
    src = str(base / "corpus.parquet")
    out_path = str(base / "indexed")
    corpus.write.mode("overwrite").parquet(src)
    build_index(spark, src, out_path, column="vec", options=IndexBuildOptions(n_clusters=8))

    queries = corpus.limit(1).select(F.col("cid").alias("qid"), "vec")
    out = ivf_similarity_join(
        queries, out_path, spark, "qid", "vec", k=2, nprobe=2, prune_scan=True
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(_pq_cluster" in plan


# ---------------- multi_query_topk (batch KNN, round-2) ----------------


def test_multi_query_topk_matches_similarity_join(spark, corpus):
    from pq_vector_spark.operators.similarity import multi_query_topk

    qrows = corpus.filter(F.col("cid") < 5).select("cid", "vec").collect()
    queries = [(r["cid"], r["vec"]) for r in qrows]

    batch = multi_query_topk(corpus, "vec", queries, 4, id_col="cid").collect()
    qdf = corpus.filter(F.col("cid") < 5).select(
        F.col("cid").alias("qid"), F.col("vec").alias("qv")
    )
    cross = similarity_join(qdf, corpus, "qid", "cid", "qv", "vec", 4, metric="l2").collect()

    key = lambda r: (r["qid"], r["rank"])
    b = [(r["qid"], r["cid"], r["score"], r["rank"]) for r in sorted(batch, key=key)]
    c = [(r["qid"], r["cid"], r["score"], r["rank"]) for r in sorted(cross, key=key)]
    assert b == c  # bit-identical scores, same ranking


def test_multi_query_topk_small_batch_stays_unrolled(spark):
    """n_q × d ≤ MULTI_UNROLL_BUDGET keeps the unrolled codegen chain (no
    interpreted aggregate fold in the plan) and its scores equal the
    fold's exactly."""
    from pq_vector_spark.functions.distance import multi_distances
    from pq_vector_spark.operators.similarity import multi_query_topk

    rng = np.random.default_rng(17)
    rows = [(int(i), [float(x) for x in rng.random(8, dtype=np.float32)]) for i in range(40)]
    df = spark.createDataFrame(rows, "cid BIGINT, vec ARRAY<FLOAT>")
    queries = [(q, [float(x) for x in rng.random(8)]) for q in ("a", "b")]
    out = multi_query_topk(df, "vec", queries, len(rows), id_col="cid")
    assert "aggregate(" not in out._jdf.queryExecution().optimizedPlan().toString()

    fold = multi_distances(F.col("vec"), [q for _, q in queries])
    ref = df.select("cid", fold.alias("s"))
    assert "aggregate(" in ref._jdf.queryExecution().optimizedPlan().toString()
    want = {
        (qid, r["cid"]): r["s"][i]
        for r in ref.collect()
        for i, (qid, _) in enumerate(queries)
    }
    got = {(r["qid"], r["cid"]): r["score"] for r in out.collect()}
    assert got == want


def test_multi_query_topk_cosine(spark, corpus):
    from pq_vector_spark.operators.similarity import multi_query_topk

    q = corpus.filter(F.col("cid") == 7).select("vec").collect()[0]["vec"]
    out = multi_query_topk(corpus, "vec", [("a", q)], 3, id_col="cid", metric="cosine").collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["cid"] == 7  # self-match wins on cosine
    assert out[0]["score"] == pytest.approx(1.0)
    sims = [r["score"] for r in out]
    assert sims == sorted(sims, reverse=True)


def test_multi_query_topk_wide_routes_to_arrow_and_matches(spark):
    """Above the codegen budget the scorer must switch to the Arrow matrix
    kernel — and stay bit-identical to the scalar kernels."""
    from pq_vector_spark.functions.distance import UNROLL_LIMIT, array_distance
    from pq_vector_spark.operators.similarity import multi_query_topk

    dim = UNROLL_LIMIT + 32
    rng = np.random.default_rng(11)
    rows = [(int(i), [float(x) for x in rng.random(dim, dtype=np.float32)]) for i in range(200)]
    wide = spark.createDataFrame(rows, "cid BIGINT, vec ARRAY<FLOAT>")
    queries = [(i, rows[i][1]) for i in range(3)]

    out = multi_query_topk(wide, "vec", queries, 5, id_col="cid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan

    got = out.collect()
    assert len(got) == 15
    for qid, qv in queries:
        mine = sorted(
            (r for r in got if r["qid"] == qid), key=lambda r: r["rank"]
        )
        scalar = (
            wide.select("cid", array_distance(F.col("vec"), qv).alias("d"))
            .orderBy(F.col("d").asc(), F.col("cid").asc())
            .limit(5)
            .collect()
        )
        assert [(r["cid"], r["score"]) for r in mine] == [(r["cid"], r["d"]) for r in scalar]


def test_multi_query_topk_skips_null_and_mismatch(spark):
    from pq_vector_spark.operators.similarity import multi_query_topk

    rows = [(0, [0.0, 0.0]), (1, [3.0, 4.0]), (2, None), (3, [1.0])]
    df = spark.createDataFrame(rows, "cid INT, vec ARRAY<DOUBLE>")
    out = multi_query_topk(df, "vec", [("q", [0.0, 0.0])], 10, id_col="cid").collect()
    assert {r["cid"] for r in out} == {0, 1}  # null + dim-mismatch rows skipped


# -------------- ivf_multi_query_topk (indexed batch KNN, round-2) ------------


@pytest.fixture(scope="module")
def indexed_corpus(spark, corpus, tmp_path_factory):
    base = tmp_path_factory.mktemp("simidx_batch")
    src = str(base / "corpus.parquet")
    out_path = str(base / "indexed")
    corpus.write.mode("overwrite").parquet(src)
    build_index(spark, src, out_path, column="vec", options=IndexBuildOptions(n_clusters=8))
    return out_path


def test_ivf_multi_query_topk_exactness_envelope(spark, corpus, indexed_corpus):
    """nprobe = n_clusters ⇒ bit-identical to the single-pass brute batch."""
    from pq_vector_spark.operators.similarity import (
        ivf_multi_query_topk,
        multi_query_topk,
    )

    qrows = corpus.filter(F.col("cid") < 4).select("cid", "vec").collect()
    queries = [(r["cid"], r["vec"]) for r in qrows]
    got = ivf_multi_query_topk(
        spark, indexed_corpus, queries, 5, id_col="cid", nprobe=8
    ).collect()
    want = multi_query_topk(corpus, "vec", queries, 5, id_col="cid").collect()
    key = lambda r: (r["qid"], r["rank"])
    assert [(r["qid"], r["cid"], r["score"]) for r in sorted(got, key=key)] == [
        (r["qid"], r["cid"], r["score"]) for r in sorted(want, key=key)
    ]


def test_ivf_multi_query_topk_prunes_scan(spark, corpus, indexed_corpus):
    from pq_vector_spark.operators.similarity import ivf_multi_query_topk

    queries = [(0, corpus.filter(F.col("cid") == 0).collect()[0]["vec"])]
    out = ivf_multi_query_topk(
        spark, indexed_corpus, queries, 3, id_col="cid", nprobe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(_pq_cluster" in plan
    got = out.collect()
    assert len(got) == 3
    assert got and {r["rank"] for r in got} == {1, 2, 3}
    assert min(got, key=lambda r: r["rank"])["cid"] == 0  # self-match survives


def test_ivf_multi_query_topk_cosine(spark, corpus, indexed_corpus):
    from pq_vector_spark.operators.similarity import (
        ivf_multi_query_topk,
        multi_query_topk,
    )

    qrows = corpus.filter(F.col("cid") < 3).select("cid", "vec").collect()
    queries = [(r["cid"], r["vec"]) for r in qrows]
    got = ivf_multi_query_topk(
        spark, indexed_corpus, queries, 4, id_col="cid", nprobe=8, metric="cosine"
    ).collect()
    want = multi_query_topk(corpus, "vec", queries, 4, id_col="cid", metric="cosine").collect()
    key = lambda r: (r["qid"], r["rank"])
    assert [(r["qid"], r["cid"], r["score"]) for r in sorted(got, key=key)] == [
        (r["qid"], r["cid"], r["score"]) for r in sorted(want, key=key)
    ]


def test_ivf_multi_query_topk_dim_mismatch_raises(spark, indexed_corpus):
    from pq_vector_spark.operators.similarity import ivf_multi_query_topk

    with pytest.raises(ValueError, match="dimension"):
        ivf_multi_query_topk(spark, indexed_corpus, [(0, [1.0, 2.0])], 3, id_col="cid")


def test_multi_query_topk_arrow_path_skips_null_and_mismatch(spark):
    """Null / wrong-dim rows must drop on the Arrow matrix-kernel route
    too (NULL scores array → posexplode emits nothing)."""
    from pq_vector_spark.functions.distance import UNROLL_LIMIT
    from pq_vector_spark.operators.similarity import multi_query_topk

    dim = UNROLL_LIMIT + 8
    good = [float(i) for i in range(dim)]
    rows = [(0, good), (1, [1.0, 2.0]), (2, None), (3, [x + 1.0 for x in good])]
    df = spark.createDataFrame(rows, "cid INT, vec ARRAY<DOUBLE>")
    out = multi_query_topk(df, "vec", [("q", good)], 10, id_col="cid").collect()
    assert {r["cid"] for r in out} == {0, 3}


def test_batch_topk_dispatch(spark, corpus, indexed_corpus, tmp_path_factory):
    """batch_topk: indexed path → pruned IVF plan; plain path / DataFrame →
    single-pass brute plan; results identical (exactness envelope)."""
    from pq_vector_spark.operators.similarity import batch_topk

    qrows = corpus.filter(F.col("cid") < 3).select("cid", "vec").collect()
    queries = [(r["cid"], r["vec"]) for r in qrows]

    got_i = batch_topk(
        indexed_corpus, "vec", queries, 4, spark=spark, id_col="cid", nprobe=8
    ).collect()

    plain = str(tmp_path_factory.mktemp("batch_plain") / "corpus.parquet")
    corpus.write.mode("overwrite").parquet(plain)
    got_p = batch_topk(plain, "vec", queries, 4, spark=spark, id_col="cid").collect()
    got_d = batch_topk(corpus, "vec", queries, 4, id_col="cid").collect()

    key = lambda r: (r["qid"], r["rank"])
    as_t = lambda rows: [(r["qid"], r["cid"], r["score"]) for r in sorted(rows, key=key)]
    assert as_t(got_i) == as_t(got_p) == as_t(got_d)


def test_maxsim_scores_and_ordering(spark):
    """MaxSim = Σ_i max_j q_i·d_j — hand-computed on a 2-query-vector,
    2-doc fixture; alignment means a doc matching both query terms on
    DIFFERENT vectors outranks one matching on the same vector."""
    from pq_vector_spark.operators.similarity import maxsim_topk

    docs = spark.createDataFrame(
        [
            # doc 1: one vector aligned with q0, another with q1 → 1+1
            (1, [[1.0, 0.0], [0.0, 1.0]]),
            # doc 2: both vectors aligned only with q0 → 1+0
            (2, [[1.0, 0.0], [0.9, 0.0]]),
        ],
        "vec_id: bigint, vecs: array<array<double>>",
    )
    out = maxsim_topk(docs, "vecs", [[1.0, 0.0], [0.0, 1.0]], 2, id_col="vec_id")
    rows = out.collect()
    assert [r["vec_id"] for r in rows] == [1, 2]
    assert rows[0]["maxsim"] == 2.0
    assert rows[1]["maxsim"] == 1.0


def test_maxsim_null_docs_dropped_and_guard(spark):
    from pq_vector_spark.operators.similarity import maxsim_topk

    docs = spark.createDataFrame(
        [(1, [[1.0]]), (2, None)], "vec_id: bigint, vecs: array<array<double>>"
    )
    assert maxsim_topk(docs, "vecs", [[1.0]], 5).count() == 1
    import pytest as _pt

    with _pt.raises(ValueError, match="query_vecs"):
        maxsim_topk(docs, "vecs", [], 5)


def test_maxsim_plan_is_scan_plus_heap(spark):
    """No shuffle, no UDF: literal query bag + TakeOrderedAndProject."""
    from pq_vector_spark.operators.similarity import maxsim_topk

    docs = spark.createDataFrame(
        [(1, [[1.0, 0.0]])], "vec_id: bigint, vecs: array<array<double>>"
    )
    plan = (
        maxsim_topk(docs, "vecs", [[1.0, 0.0], [0.0, 1.0]], 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_maxsim_envelope_and_recall(spark, tmp_path):
    """Two-stage MaxSim: with nprobe = n_clusters and candidates covering
    the table it equals brute maxsim_topk exactly; at the production point
    (pruned) recall stays high on clustered bags."""
    import numpy as np

    from pq_vector_spark.index.build import build_index
    from pq_vector_spark.operators.similarity import ivf_maxsim_topk, maxsim_topk
    from pq_vector_spark.session import IndexBuildOptions

    rng = np.random.default_rng(5)
    cents = rng.normal(0, 10, size=(6, 8))
    bags_np = []
    for i in range(300):
        base = cents[i % 6]
        bags_np.append([(base + rng.normal(0, 0.3, 8)).tolist() for _ in range(4)])
    bags = spark.createDataFrame(
        [(i, b) for i, b in enumerate(bags_np)],
        "id: bigint, bag: array<array<double>>",
    ).cache()

    pooled_src = str(tmp_path / "pooled.parquet")
    pooled_idx = str(tmp_path / "pooled_indexed")
    bags.select(
        "id",
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: F.aggregate(
                F.col("bag"), F.lit(0.0), lambda acc, v: acc + v[i]
            )
            / F.lit(4.0),
        ).alias("pooled"),
    ).write.parquet(pooled_src)
    build_index(
        spark, pooled_idx_src := pooled_src, pooled_idx, column="pooled",
        options=IndexBuildOptions(n_clusters=6),
    )

    qbag = bags_np[17]
    brute = [r["id"] for r in maxsim_topk(bags, "bag", qbag, 10, id_col="id").collect()]
    exact = [
        r["id"]
        for r in ivf_maxsim_topk(
            spark, pooled_idx, bags, "bag", "id", qbag, 10,
            nprobe=6, candidates=300,
        ).collect()
    ]
    assert exact == brute  # envelope

    pruned = {
        r["id"]
        for r in ivf_maxsim_topk(
            spark, pooled_idx, bags, "bag", "id", qbag, 10,
            nprobe=2, candidates=60,
        ).collect()
    }
    assert len(pruned & set(brute)) >= 8  # production-point recall
