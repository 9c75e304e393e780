"""Dedup operator tests: exact, Jaccard, MinHash-LSH, SimHash, embedding."""

import pytest
from pyspark.sql import functions as F

from pq_vector_spark.operators import dedup as D

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "the quick brown fox jumps over a lazy dog"),  # near dup of 0
    (3, "completely different text about spark engines"),
    (4, "THE  Quick Brown Fox jumps over the lazy dog"),  # dup after normalize
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id INT, text STRING")


def test_exact_dedup_groups(docs):
    out = {r["keep_id"]: r["n_dups"] for r in D.exact_dedup(docs, "text", "doc_id").collect()}
    assert out[0] == 3  # 0, 1, 4 normalize to the same content
    assert out[2] == 1
    assert out[3] == 1


def test_jaccard_pairs_find_near_dup(docs):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.3).collect()
    }
    assert out[(0, 1)] == 1.0
    # 0 vs 2 share 4 of 10 distinct 3-gram shingles → jaccard 0.4
    assert out[(0, 2)] == pytest.approx(0.4)
    assert all(not (a == 3 or b == 3) for a, b in out)  # distinct doc matches nothing


def test_minhash_candidates_contain_true_dups(docs):
    out = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(
            docs, "text", "doc_id", n=3, num_hashes=32, bands=8, threshold=0.5
        ).collect()
    }
    assert (0, 1) in out  # identical docs always collide in every band
    assert all(not (a == 3 or b == 3) for a, b in out)


def test_simhash_similar_docs_close(docs):
    sigs = {
        r["doc_id"]: r["sig"]
        for r in docs.select("doc_id", D.simhash("text", bits=16).alias("sig")).collect()
    }
    assert sigs[0] == sigs[1]  # identical text ⇒ identical signature
    ham_near = bin(sigs[0] ^ sigs[2]).count("1")
    ham_far = bin(sigs[0] ^ sigs[3]).count("1")
    assert ham_near < ham_far  # near-dup is closer in hamming space


def test_embedding_top_pairs(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.01]),  # nearly parallel to 0
            (2, [0.0, 1.0]),
        ],
        "vid INT, emb ARRAY<FLOAT>",
    )
    top = D.embedding_top_pairs(df, "emb", "vid", top=1).collect()[0]
    assert (top["id_a"], top["id_b"]) == (0, 1)
    assert top["cosine"] > 0.99


def test_embedding_near_dup_threshold(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0])],
        "vid INT, emb ARRAY<FLOAT>",
    )
    out = D.embedding_near_dup(df, "emb", "vid", threshold=0.95).collect()
    assert len(out) == 1


def test_embedding_near_dup_bucketed_exact_envelope(spark):
    """nprobe = n_clusters ⇒ every pair co-clustered ⇒ identical to the
    exact all-pairs kernel."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(int(i), [float(x) for x in rng.normal(size=8)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vid BIGINT, emb ARRAY<FLOAT>")
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dup(df, "emb", "vid", threshold=0.5).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dup_bucketed(
            df, "emb", "vid", threshold=0.5, n_clusters=6, nprobe=6
        ).collect()
    }
    assert bucketed == exact and len(exact) > 0


def test_embedding_near_dup_bucketed_candidates_scale_with_clusters(spark):
    """Pair generation is Sum_c |c|^2-ish, not n^2: with well-separated blobs
    and nprobe=1 the candidate count equals the sum of within-blob pairs."""
    import numpy as np

    from pq_vector_spark.index.build import PROBE_COL, probe_clusters
    from pq_vector_spark.index.kmeans import train_kmeans
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    centers = np.array([[100.0, 0.0], [0.0, 100.0], [-100.0, -100.0]])
    sizes = [40, 30, 30]
    rows = []
    i = 0
    for c, sz in zip(centers, sizes):
        for _ in range(sz):
            rows.append((i, [float(x) for x in c + rng.normal(scale=0.5, size=2)]))
            i += 1
    df = spark.createDataFrame(rows, "vid BIGINT, emb ARRAY<FLOAT>")
    sample = np.asarray([r[1] for r in rows], dtype=np.float32)
    cents = train_kmeans(sample, 3, seed=42)
    exploded = probe_clusters(df, "emb", cents, 1).select(
        F.col("vid").alias("_id"), F.explode(PROBE_COL).alias("_c")
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    n_cands = a.join(
        b, (F.col("a._c") == F.col("b._c")) & (F.col("a._id") < F.col("b._id"))
    ).count()
    expected = sum(s * (s - 1) // 2 for s in sizes)  # within-blob pairs only
    assert n_cands == expected  # NOT n*(n-1)/2 == 4950


def test_minhash_hot_bucket_guard_bounds_candidates(spark):
    """1k identical docs: without the guard every band bucket holds all 1k
    rows (499500 pairs/band); with max_bucket=100 candidates are bounded at
    C(100,2) and the dropped-row count is observable."""
    from pyspark.sql import Observation

    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated for every single document") for i in range(1000)],
        "doc_id BIGINT, text STRING",
    )
    obs = Observation("lsh_guard")
    cands = D.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=32, bands=8,
        verify=False, persist=False, max_bucket=100, observation=obs,
    )
    n = cands.count()
    assert n == 100 * 99 // 2  # identical docs share every bucket → same 100 survive
    assert obs.get["dropped_bucket_rows"] == (1000 - 100) * 8


# ------------- connected components / dedup resolution (round-2) -------------


def test_connected_components_chain_and_isolated(spark):
    """Path graph a-b-c-d (diameter 3 ⇒ needs multiple propagation rounds)
    plus a separate pair — labels must reach the min id of each component."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a BIGINT, id_b BIGINT"
    )
    got = {
        r["node"]: r["component"]
        for r in D.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_path_converges(spark):
    """Diameter ≫ 2: a 30-node path — min label must walk the whole chain."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a BIGINT, id_b BIGINT"
    )
    got = D.connected_components(pairs).collect()
    assert len(got) == 31
    assert all(r["component"] == 0 for r in got)


def test_resolve_duplicates_survivor_policy(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id BIGINT, text STRING"
    )
    pairs = spark.createDataFrame([(1, 4), (4, 5)], "id_a BIGINT, id_b BIGINT")
    out = D.resolve_duplicates(docs, pairs, "doc_id").collect()
    canon = {r["doc_id"]: r["canonical_id"] for r in out}
    assert canon == {0: 0, 1: 1, 2: 2, 3: 3, 4: 1, 5: 1}
    kept = sorted(r["doc_id"] for r in out if r["is_canonical"])
    assert kept == [0, 1, 2, 3]  # 4 and 5 collapse into 1


def test_incremental_dedup_against_corpus(spark):
    from pq_vector_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "already in the corpus"), (2, "another existing doc")],
        ["doc_id", "text"],
    )
    delta = spark.createDataFrame(
        [
            (10, "already in the corpus"),  # exists in corpus → dropped
            (11, "fresh new content"),  # new → kept
            (12, "fresh new content"),  # within-delta dup → collapses to 11
            (13, "Another   EXISTING doc"),  # normalized match → dropped
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"] for r in incremental_dedup(corpus, delta, "text", "doc_id").collect()}
    assert out == {11}


def test_incremental_dedup_keeps_schema_and_min_id(spark):
    from pq_vector_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame([(1, "x", "s0")], ["doc_id", "text", "src"])
    delta = spark.createDataFrame(
        [(7, "dup body", "s1"), (5, "dup body", "s2"), (9, "solo", "s3")],
        ["doc_id", "text", "src"],
    )
    rows = incremental_dedup(corpus, delta, "text", "doc_id").collect()
    assert {r["doc_id"] for r in rows} == {5, 9}  # min id survives
    assert rows[0].asDict().keys() == {"doc_id", "text", "src"}


def test_incremental_dedup_corpus_never_shuffles(spark):
    """100 TB contract: both corpus-facing joins are broadcast — no
    SortMergeJoin / corpus Exchange in the executed plan."""
    from pq_vector_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    delta = spark.createDataFrame([(2, "b")], ["doc_id", "text"])
    plan = (
        incremental_dedup(corpus, delta, "text", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_local_fast_path_matches_distributed(spark):
    """The bounded union-find fast path and the distributed pointer-jumping
    path label an awkward graph (two chains + a clique + a singleton pair)
    identically."""
    from pq_vector_spark.operators.dedup import connected_components

    pairs = [(2, 1), (3, 2), (10, 11), (11, 12), (12, 13), (20, 21), (21, 22), (20, 22), (30, 31)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    fast = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }
    dist = {
        (r["node"], r["component"])
        for r in connected_components(df, local_threshold=0).collect()
    }
    assert fast == dist
    comp = dict(fast)
    assert comp[3] == 1 and comp[13] == 10 and comp[22] == 20 and comp[31] == 30


def test_resolve_duplicates_prefer_col_elects_best(spark):
    """Quality-keyed survivor policy: canonical = the cluster member with
    the max prefer_col value (ties -> smallest id; NULL scores last);
    unmatched docs stay their own canonical."""
    from pq_vector_spark.operators.dedup import resolve_duplicates

    docs = spark.createDataFrame(
        [
            (1, 10.0),
            (2, 30.0),   # best of cluster {1,2,3} -> canonical
            (3, 30.0),   # tie with 2 -> 2 wins (smaller id)
            (4, None),   # cluster {4,5}: NULL ranks last
            (5, 1.0),
            (9, 0.5),    # unmatched
        ],
        "doc_id: bigint, q: double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a: bigint, id_b: bigint"
    )
    out = {
        r["doc_id"]: (r["canonical_id"], r["is_canonical"])
        for r in resolve_duplicates(
            docs, pairs, "doc_id", prefer_col="q"
        ).collect()
    }
    assert out[1] == (2, False)
    assert out[2] == (2, True)
    assert out[3] == (2, False)
    assert out[4] == (5, False)
    assert out[5] == (5, True)
    assert out[9] == (9, True)

    low = {
        r["doc_id"]: r["canonical_id"]
        for r in resolve_duplicates(
            docs, pairs, "doc_id", prefer_col="q", prefer="min"
        ).collect()
    }
    assert low[2] == 1  # min preference elects the lowest score
    assert low[4] == 5  # NULL still last under min

    with pytest.raises(ValueError, match="prefer"):
        resolve_duplicates(docs, pairs, "doc_id", prefer_col="q", prefer="best")


def test_resolve_duplicates_prefer_none_unchanged(spark):
    """Default policy stays min-id (exact_dedup parity) — the new knob
    must not disturb the attested dedup_resolve row."""
    from pq_vector_spark.operators.dedup import resolve_duplicates

    docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id: bigint")
    pairs = spark.createDataFrame([(2, 3)], "id_a: bigint, id_b: bigint")
    out = {
        r["doc_id"]: r["canonical_id"]
        for r in resolve_duplicates(docs, pairs, "doc_id").collect()
    }
    assert out == {1: 1, 2: 2, 3: 2}


# ------------------------------------------------- persisted near-dup index


def _near_corpus(spark):
    """Corpus with one boilerplate family; delta with (a) a near-copy of a
    corpus doc, (b) two near-identical fresh docs, (c) one genuinely new
    doc. Texts are ~12 tokens so 3-gram Jaccard separates cleanly."""
    mk = lambda *w: " ".join(w)
    corpus_rows = [
        (1, mk("the", "quick", "brown", "fox", "jumps", "over", "the",
               "lazy", "dog", "near", "the", "river")),
        (2, mk("spark", "plans", "are", "declarative", "catalyst",
               "optimizes", "predicates", "and", "projections", "for",
               "parquet", "scans")),
        (3, mk("completely", "different", "third", "document", "about",
               "minhash", "banding", "and", "jaccard", "estimation",
               "at", "scale")),
    ]
    delta_rows = [
        # near-copy of corpus doc 1 (one trailing token changed)
        (10, mk("the", "quick", "brown", "fox", "jumps", "over", "the",
                "lazy", "dog", "near", "the", "creek")),
        # two near-identical fresh docs: 21 must suppress 22
        (21, mk("fresh", "delta", "document", "describing", "streaming",
                "ingestion", "markers", "checkpoints", "and", "replay",
                "semantics", "today")),
        (22, mk("fresh", "delta", "document", "describing", "streaming",
                "ingestion", "markers", "checkpoints", "and", "replay",
                "semantics", "tonight")),
        # genuinely new
        (30, mk("unrelated", "survivor", "text", "with", "nothing",
                "shared", "against", "any", "other", "row", "at", "all")),
    ]
    schema = "doc_id: bigint, text: string"
    return (
        spark.createDataFrame(corpus_rows, schema),
        spark.createDataFrame(delta_rows, schema),
    )


def test_incremental_dedup_near_verified(spark, tmp_path):
    """Build the corpus index once; the delta near-dedups against it
    without re-hashing corpus text: the near-copy of a corpus doc drops,
    the smaller of the two within-delta twins survives, the fresh doc
    survives."""
    from pq_vector_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_near,
    )

    corpus, delta = _near_corpus(spark)
    idx = str(tmp_path / "near_idx")
    meta = build_dedup_index(corpus, "text", "doc_id", idx, num_hashes=32, bands=8)
    assert meta["bands"] == 8
    out = incremental_dedup_near(
        spark, idx, delta, "text", "doc_id", corpus=corpus, threshold=0.5
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [21, 30]
    # index table shape: one row per (doc, band)
    assert spark.read.parquet(idx).count() == 3 * 8


def test_incremental_dedup_near_unverified_band_collision(spark, tmp_path):
    """Without a corpus frame, the band collision alone decides — same
    outcome on this corpus (all true matches), zero corpus text reads."""
    from pq_vector_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_near,
    )

    corpus, delta = _near_corpus(spark)
    idx = str(tmp_path / "near_idx_uv")
    build_dedup_index(corpus, "text", "doc_id", idx)
    out = incremental_dedup_near(spark, idx, delta, "text", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [21, 30]


def test_embedding_bucketed_hot_cluster_cap(spark):
    """max_cluster (r12): a degenerate cluster of near-identical
    embeddings is truncated to its first max_cluster members by id —
    pair expansion bounded at C(max_cluster, 2) — and _stats says the
    cap fired; uncapped, the full quadratic set comes back."""
    from pq_vector_spark.operators.dedup import embedding_near_dup_bucketed

    rows = [(i, [1.0, float(i) * 1e-6]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    stats: dict = {}
    capped = embedding_near_dup_bucketed(
        df, "embedding", "vec_id", threshold=0.9, n_clusters=1, nprobe=1,
        max_cluster=5, _stats=stats,
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(a, b) for a in range(5) for b in range(a + 1, 5)}
    assert stats["capped_clusters"] == 1
    full = embedding_near_dup_bucketed(
        df, "embedding", "vec_id", threshold=0.9, n_clusters=1, nprobe=1,
        max_cluster=None,
    )
    assert full.count() == 30 * 29 // 2


def test_semantic_dedup_policies(spark):
    """SemDeDup: cluster-blocked cosine groups keep exactly one member.
    nprobe = n_clusters is the exactness envelope (identical to the
    all-pairs + min-id composition); 'outlier' and 'prototype' elect
    different survivors from an asymmetric group (lowest vs highest
    centroid cosine), and components are policy-invariant."""
    from pq_vector_spark.operators.dedup import (
        embedding_near_dup,
        resolve_duplicates,
        semantic_dedup,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.05, 0.0]),
        (3, [1.0, -0.05, 0.0]),
        (4, [0.0, 1.0, 0.0]),
        (5, [0.0, 1.0, 0.05]),
        (6, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    got = {
        (r["vec_id"], r["canonical_id"], r["is_canonical"])
        for r in semantic_dedup(
            df, "embedding", "vec_id", eps=0.01, n_clusters=3, nprobe=3,
            keep="min_id",
        ).collect()
    }
    pairs = embedding_near_dup(df, "embedding", "vec_id", threshold=0.99)
    want = {
        (r["vec_id"], r["canonical_id"], r["is_canonical"])
        for r in resolve_duplicates(df, pairs, "vec_id").collect()
    }
    assert got == want
    assert {(v, c) for v, c, _ in got} == {
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)
    }

    def canon(keep):
        # ONE shared centroid: every member scores against the same
        # vector, so the asymmetric A-group's scores can never all tie
        # (with n_clusters=3 the 3-point training sample can make each
        # member its own centroid — every score 1.0, policies collapse)
        out = semantic_dedup(
            df, "embedding", "vec_id", eps=0.01, n_clusters=1, nprobe=1,
            keep=keep,
        )
        return {r["vec_id"]: r["canonical_id"] for r in out.collect()}

    po, pp = canon("outlier"), canon("prototype")
    for m in (po, pp):
        assert m[6] == 6  # non-duplicate stays its own canonical
        assert m[1] == m[2] == m[3] and m[1] in (1, 2, 3)
        assert m[4] == m[5] and m[4] in (4, 5)
    # the asymmetric group separates the policies
    assert po[1] != pp[1]
    with pytest.raises(ValueError, match="keep"):
        semantic_dedup(df, "embedding", "vec_id", keep="random")
    with pytest.raises(ValueError, match="eps"):
        semantic_dedup(df, "embedding", "vec_id", eps=1.5)


def test_incremental_dedup_near_stats_and_delta_cap(spark, tmp_path):
    """_stats surfaces what the probe actually did — candidate/verified
    pair volumes, per-rule drop counts, and whether max_bucket truncated
    any (band, key) bucket on EITHER side. The delta-side cap bounds a
    degenerate bucket at max_bucket² pair expansions (not max_bucket ×
    |delta bucket|)."""
    from pq_vector_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_near,
    )

    corpus, delta = _near_corpus(spark)
    idx = str(tmp_path / "near_idx_stats")
    build_dedup_index(corpus, "text", "doc_id", idx, num_hashes=32, bands=8)
    stats: dict = {}
    out = incremental_dedup_near(
        spark, idx, delta, "text", "doc_id", corpus=corpus, threshold=0.5,
        _stats=stats,
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [21, 30]
    assert stats["capped_index_buckets"] == 0
    assert stats["capped_delta_buckets"] == 0
    assert stats["candidate_pairs"] >= 1  # doc 10 collided with corpus doc 1
    assert stats["verified_pairs"] >= 1
    assert stats["corpus_dropped"] == 1  # doc 10
    assert stats["within_dropped"] == 1  # doc 22 (suppressed by 21)

    # degenerate bucket: many identical delta docs against one identical
    # corpus doc — max_bucket=2 truncates both sides and the stats say so
    mk = lambda *w: " ".join(w)
    same = mk("boiler", "plate", "navigation", "bar", "shared", "by",
              "every", "single", "page", "on", "the", "site")
    corpus2 = spark.createDataFrame(
        [(i, same) for i in range(5)], "doc_id: bigint, text: string"
    )
    delta2 = spark.createDataFrame(
        [(100 + i, same) for i in range(8)], "doc_id: bigint, text: string"
    )
    idx2 = str(tmp_path / "near_idx_degen")
    build_dedup_index(corpus2, "text", "doc_id", idx2)
    stats2: dict = {}
    out2 = incremental_dedup_near(
        spark, idx2, delta2, "text", "doc_id", corpus=corpus2,
        threshold=0.5, max_bucket=2, _stats=stats2,
    )
    assert stats2["capped_index_buckets"] >= 1
    assert stats2["capped_delta_buckets"] >= 1
    # cap bound honored: ≤ max_bucket² = 4 distinct collision pairs
    assert stats2["candidate_pairs"] <= 2 * 2
    # THE point of the stats: capping silently admits the truncated rows
    # (102..107 never entered any bucket pair) — visible, not invisible
    assert out2.count() == 6
    assert stats2["corpus_dropped"] == 2 and stats2["within_dropped"] >= 1


def test_append_dedup_index_extends_coverage(spark, tmp_path):
    """Appending admitted survivors to the index makes the NEXT delta
    near-dedup against them too; hash parameters come from the index meta,
    so a caller cannot split the key space."""
    from pq_vector_spark.operators.dedup import (
        append_dedup_index,
        build_dedup_index,
        incremental_dedup_near,
        load_dedup_index_meta,
    )

    corpus, delta = _near_corpus(spark)
    idx = str(tmp_path / "near_idx_app")
    build_dedup_index(corpus, "text", "doc_id", idx, num_hashes=16, bands=4)
    surv = incremental_dedup_near(
        spark, idx, delta, "text", "doc_id", corpus=corpus, threshold=0.5
    )
    append_dedup_index(surv, "text", "doc_id", idx)
    assert load_dedup_index_meta(spark, idx)["num_hashes"] == 16
    # a near-copy of survivor 21 now drops against the APPENDED index rows
    delta2 = spark.createDataFrame(
        [
            (40, "fresh delta document describing streaming ingestion "
                 "markers checkpoints and replay semantics forever"),
            (41, "another brand new unique document mentioning vector "
                 "search recall pruning and quantization tradeoffs"),
        ],
        "doc_id: bigint, text: string",
    )
    both = corpus.unionByName(surv.select("doc_id", "text"))
    out2 = incremental_dedup_near(
        spark, idx, delta2, "text", "doc_id", corpus=both, threshold=0.5
    )
    assert sorted(r["doc_id"] for r in out2.collect()) == [41]


def test_incremental_dedup_near_missing_meta_raises(spark, tmp_path):
    from pq_vector_spark.operators.dedup import incremental_dedup_near

    delta = spark.createDataFrame([(1, "a b c")], "doc_id: bigint, text: string")
    with pytest.raises(IOError, match="dedup index meta"):
        incremental_dedup_near(
            spark, str(tmp_path / "nope"), delta, "text", "doc_id"
        )


def test_incremental_dedup_near_matches_scratch_twin(spark, tmp_path):
    """The indexed probe must select EXACTLY the rows a from-scratch LSH
    run over (corpus ∪ delta) would keep under the same survivor rule —
    the index is a cache, never a semantics change."""
    import random

    from pq_vector_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_near,
        minhash_lsh_pairs,
    )

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(30):
        base = [rng.choice(vocab) for _ in range(12)]
        docs.append((i, " ".join(base)))
        if rng.random() < 0.4:  # near-copy with one token changed
            twin = list(base)
            twin[-1] = rng.choice(vocab)
            docs.append((1000 + i, " ".join(twin)))
    df = spark.createDataFrame(docs, "doc_id: bigint, text: string")
    corpus = df.filter("doc_id % 2 = 0")
    delta = df.filter("doc_id % 2 = 1")
    idx = str(tmp_path / "near_idx_twin")
    build_dedup_index(corpus, "text", "doc_id", idx)
    got = sorted(
        r["doc_id"]
        for r in incremental_dedup_near(
            spark, idx, delta, "text", "doc_id", corpus=corpus, threshold=0.5
        ).collect()
    )
    # scratch twin: all verified LSH pairs over the union, same rule
    pairs = minhash_lsh_pairs(
        df, "text", "doc_id", threshold=0.5
    ).collect()
    corpus_ids = {r["doc_id"] for r in corpus.collect()}
    delta_ids = sorted(r["doc_id"] for r in delta.collect())
    dropped = set()
    for p in pairs:
        a, b = p["id_a"], p["id_b"]
        for d in (a, b):
            other = b if d == a else a
            if d in delta_ids and (
                other in corpus_ids or (other in delta_ids and other < d)
            ):
                dropped.add(d)
    want = sorted(d for d in delta_ids if d not in dropped)
    assert got == want


def test_incremental_dedup_near_plan_keeps_index_map_side(spark, tmp_path):
    """Scale contract: the corpus-scaled index table must stream through a
    BROADCAST join against the delta's band keys — never shuffle. Every
    join the index scan feeds is a BroadcastHashJoin; the only
    SortMergeJoins in the plan are the delta-bounded LSH self-join and
    verification joins."""
    from pq_vector_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_near,
    )

    corpus, delta = _near_corpus(spark)
    idx = str(tmp_path / "near_idx_plan")
    build_dedup_index(corpus, "text", "doc_id", idx)
    out = incremental_dedup_near(
        spark, idx, delta, "text", "doc_id", corpus=corpus, threshold=0.5
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the index scan is the only parquet FileScan projecting (id, band, key)
    scan_lines = [
        l
        for l in plan.splitlines()
        if "FileScan parquet" in l and "band#" in l and "key#" in l
    ]
    assert scan_lines, "index scan missing from the plan"
    # the probe join on (band, key) that touches the index is broadcast:
    # no SortMergeJoin keyed on (band, key) may sit between a hits-side
    # subtree and the scan — assert the hits pipeline stayed broadcast by
    # checking the only band-keyed SMJ left is the delta self-join
    # (join condition carries the _id < _id inequality)
    import re

    for line in plan.splitlines():
        if "SortMergeJoin" in line and "band" in line:
            assert "_id" in line, f"index-side shuffle join crept in: {line.strip()}"


# -------------------------------------------- repeated-paragraph removal


def test_remove_repeated_paragraphs_golden(spark):
    """Paragraphs shared by >= min_docs distinct documents vanish from all
    of them (every occurrence); survivors keep raw bytes + order; blank
    paragraphs are structure, not content; an all-hot doc stays with empty
    text; untouched docs pass through byte-identical."""
    from pq_vector_spark.operators.dedup import remove_repeated_paragraphs

    boiler = "Subscribe  To Our NEWSLETTER"  # matching is normalized...
    boiler2 = "subscribe to our newsletter"  # ...so these two collide
    rows = [
        (1, f"unique one\n{boiler}\nunique two"),
        (2, f"{boiler2}\nanother unique line\n\ntail"),
        (3, "totally untouched document\nwith two lines"),
        (4, boiler),           # all-hot doc -> empty text, still present
        (5, f"{boiler}\n{boiler2}"),  # every occurrence goes
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    got = {
        r["doc_id"]: r["text"]
        for r in remove_repeated_paragraphs(df, "text", "doc_id", min_docs=2).collect()
    }
    assert got[1] == "unique one\nunique two"
    assert got[2] == "another unique line\n\ntail"  # blank line kept
    assert got[3] == "totally untouched document\nwith two lines"
    assert got[4] == ""
    assert got[5] == ""
    # min_docs above the repeat count: nothing is boilerplate
    got3 = {
        r["doc_id"]: r["text"]
        for r in remove_repeated_paragraphs(df, "text", "doc_id", min_docs=5).collect()
    }
    assert got3 == dict(rows)
    # rewrite_all gives the identical answer through the corpus-wide plan
    got_all = {
        r["doc_id"]: r["text"]
        for r in remove_repeated_paragraphs(
            df, "text", "doc_id", min_docs=2, rewrite_all=True
        ).collect()
    }
    assert got_all == got
    with pytest.raises(ValueError, match="min_docs"):
        remove_repeated_paragraphs(df, "text", "doc_id", min_docs=1)


def test_remove_repeated_paragraphs_within_doc_repeat_not_hot(spark):
    """A paragraph repeated many times INSIDE one document but present in
    only that document is not boilerplate (the count is distinct-docs) —
    while a cross-doc hot paragraph loses every within-doc occurrence."""
    from pq_vector_spark.operators.dedup import remove_repeated_paragraphs

    rows = [
        (1, "same\nsame\nsame\nonly here"),
        (2, "hot\nmiddle\nhot"),
        (3, "hot\nelse"),
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    got = {
        r["doc_id"]: r["text"]
        for r in remove_repeated_paragraphs(df, "text", "doc_id", min_docs=2).collect()
    }
    assert got[1] == "same\nsame\nsame\nonly here"
    assert got[2] == "middle"
    assert got[3] == "else"


def test_remove_repeated_paragraphs_untouched_stay_map_side(spark):
    """Default path: untouched documents flow through a broadcast anti
    probe — the corpus text is never shuffled for them (no SortMergeJoin
    keyed on the id for the untouched branch; the union's first leg is
    scan + broadcast join only)."""
    from pq_vector_spark.operators.dedup import remove_repeated_paragraphs

    rows = [(i, f"unique {i}\ncommon footer") for i in range(50)] + [
        (100 + i, f"solo doc {i}") for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    out = remove_repeated_paragraphs(df, "text", "doc_id", min_docs=2)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got[0] == "unique 0"
    assert got[100] == "solo doc 0"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_remove_repeated_paragraphs_broadcast_guard(spark):
    """Above broadcast_threshold the hot/flagged broadcast HINTS are
    dropped (the r11 board's only `weak`): with auto-broadcast disabled,
    the guarded plan contains NO BroadcastHashJoin — yet the answer is
    byte-identical to the hinted plan, and _stats records which path
    ran."""
    from pq_vector_spark.operators.dedup import remove_repeated_paragraphs

    rows = [(i, f"unique {i}\ncommon footer\nshared banner") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        stats: dict = {}
        guarded = remove_repeated_paragraphs(
            df, "text", "doc_id", min_docs=2, broadcast_threshold=1,
            _stats=stats,
        )
        plan = guarded._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert stats == {
            "hot_fingerprints": 2, "broadcast": False, "hot_persisted": False,
        }
        got = {r["doc_id"]: r["text"] for r in guarded.collect()}
        stats_small: dict = {}
        hinted = remove_repeated_paragraphs(
            df, "text", "doc_id", min_docs=2, _stats=stats_small
        )
        assert stats_small == {
            "hot_fingerprints": 2, "broadcast": True, "hot_persisted": False,
        }
        assert got == {r["doc_id"]: r["text"] for r in hinted.collect()}
        assert got[0] == "unique 0"
        # rewrite_all path honors the guard too (it still joins `hot`)
        ga = remove_repeated_paragraphs(
            df, "text", "doc_id", min_docs=2, rewrite_all=True,
            broadcast_threshold=1,
        )
        plan_all = ga._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_all
        assert got == {r["doc_id"]: r["text"] for r in ga.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_remove_repeated_paragraphs_caches_contract(spark):
    """The _caches calling convention (r13 verdict #8): WITH _caches the
    hot set is persisted once (hot_persisted=True, the action's plan reads
    the InMemoryRelation, the caller gets exactly that frame to release);
    WITHOUT, nothing is cached — the silent cost is one extra aggregation
    pass, never a leaked relation. Results identical either way."""
    from pq_vector_spark.operators.dedup import remove_repeated_paragraphs

    rows = [(i, f"unique {i}\ncommon footer") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    stats, caches = {}, []
    cached = remove_repeated_paragraphs(
        df, "text", "doc_id", min_docs=2, _stats=stats, _caches=caches
    )
    assert stats["hot_persisted"] is True
    assert len(caches) == 1 and caches[0].storageLevel.useMemory
    plan = cached._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan  # hot-set joins read the cache
    got = {r["doc_id"]: r["text"] for r in cached.collect()}
    for c in caches:
        c.unpersist()
    stats2: dict = {}
    plain = remove_repeated_paragraphs(
        df, "text", "doc_id", min_docs=2, _stats=stats2
    )
    assert stats2["hot_persisted"] is False
    plan2 = plain._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan2  # fire-and-forget: no residue
    assert got == {r["doc_id"]: r["text"] for r in plain.collect()}


# ---------------------------------------------- winnow overlap pairs


def test_winnow_overlap_pairs_localizes_copied_paragraph(spark):
    """A paragraph copied between two long, otherwise-unrelated documents
    must surface as an overlap pair even though whole-doc Jaccard is
    diluted far below any usable threshold — the capability MinHash-style
    whole-document sketches lack."""
    from pq_vector_spark.operators.dedup import (
        ngram_jaccard_pairs,
        winnow_overlap_pairs,
    )

    copied = "the exact same twelve token paragraph copied verbatim between documents here now"
    a_fill = " ".join(f"alpha{i}" for i in range(120))
    b_fill = " ".join(f"beta{i}" for i in range(120))
    rows = [
        (1, f"{a_fill} {copied}"),
        (2, f"{copied} {b_fill}"),
        (3, " ".join(f"gamma{i}" for i in range(60))),
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    got = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in winnow_overlap_pairs(df, "text", "doc_id", min_shared=2).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 2
    assert all(3 not in p for p in got)
    # whole-doc jaccard on the same pair is diluted under 0.1
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.0).collect()
    }
    assert jac[(1, 2)] < 0.1
    with pytest.raises(ValueError, match="min_shared"):
        winnow_overlap_pairs(df, "text", "doc_id", min_shared=0)


def test_winnow_overlap_pairs_hot_fingerprint_guard(spark):
    """A fingerprint shared by more than max_bucket documents (mass
    boilerplate — a nav bar every page carries) is DROPPED before the pair
    join, so its ~n²/2 expansion never happens; pairs that also share
    non-boilerplate runs still surface through those, and _stats records
    how many fps the cap removed."""
    from pq_vector_spark.operators.dedup import winnow_overlap_pairs

    boiler = "identical boilerplate run of tokens long enough to fingerprint"
    # docs 0/1 additionally share a UNIQUE copied passage (long enough for
    # >= 2 winnow fps of its own)
    copied = " ".join(f"copied{i}" for i in range(20))
    rows = [(i, boiler if i > 1 else f"{boiler}\n{copied}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    stats: dict = {}
    capped = winnow_overlap_pairs(
        df=docs, text_col="text", id_col="doc_id", min_shared=1,
        max_bucket=10, _stats=stats,
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # boilerplate-only pairs vanish entirely; the genuinely-overlapping
    # pair survives through its non-boilerplate shared fingerprints
    assert got == {(0, 1)}
    assert stats["dropped_fingerprints"] >= 1
    full = winnow_overlap_pairs(
        df=docs, text_col="text", id_col="doc_id", min_shared=1, max_bucket=None
    )
    assert full.count() == 60 * 59 // 2
    # a corpus with no hot fp is untouched by the guard (and records zero)
    stats2: dict = {}
    clean = winnow_overlap_pairs(
        df=docs.filter("doc_id < 2"), text_col="text", id_col="doc_id",
        min_shared=1, max_bucket=10, _stats=stats2,
    )
    assert clean.count() == 1 and stats2["dropped_fingerprints"] == 0


def _persistent_rdd_ids(spark) -> set:
    # id SET, not size: other tests' ContextCleaner unpersists run async,
    # so absolute counts race — only NEW ids matter to a leak check
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_expand_sorted_id_pairs_streams_full_pair_set(spark):
    """The two-step generator expansion (r13, ADVICE r12: the one-shot
    flatten built a bucket's whole C(n,2) pair set in ONE row) emits
    exactly the ordered within-bucket pairs, id_a < id_b, once per
    bucket occurrence."""
    from pq_vector_spark.operators.dedup import _expand_sorted_id_pairs

    grouped = spark.createDataFrame(
        [(0, [1, 2, 3, 4]), (1, [7, 9])], "b: int, _ids: array<bigint>"
    )
    got = sorted(
        (r["id_a"], r["id_b"]) for r in _expand_sorted_id_pairs(grouped).collect()
    )
    assert got == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (7, 9)]
    # duplicate bucket occurrences emit the pair once per bucket —
    # dedupe stays the caller's job (minhash/cluster use .distinct())
    dup = spark.createDataFrame(
        [(0, [5, 6]), (1, [5, 6])], "b: int, _ids: array<bigint>"
    )
    assert _expand_sorted_id_pairs(dup).count() == 2


def test_blocked_gram_candidates_matches_one_block(spark):
    """r16: the blocked complete-block candidate kernel (unordered
    block-pair groups) emits the IDENTICAL candidate pair set as the
    one-block gram kernel, each pair exactly once with id_a < id_b —
    including planted near-dup pairs that straddle id-hash blocks and a
    zero vector. Called directly (below the size gate) with several
    block counts so diagonal and off-diagonal groups both carry pairs."""
    import numpy as np

    from pq_vector_spark.operators.dedup import (
        _blocked_gram_candidates,
        _cluster_gram_pairs,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(size=(30, 6))
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(30)]
    for i in range(8):
        rows.append((30 + i, [float(x * 1.0002 + 0.0005) for x in base[i]]))
    rows.append((99, [0.0] * 6))  # zero vector: cosine 0 vs everything
    df = spark.createDataFrame(rows, "_id BIGINT, _v ARRAY<FLOAT>")
    want = sorted(
        (r["id_a"], r["id_b"])
        for r in _cluster_gram_pairs(
            df.withColumn("_c", F.lit(0)), 0.97, None
        ).select("id_a", "id_b").collect()
    )
    assert len(want) >= 8
    for nb in (2, 3, 5):
        got = [
            (r["id_a"], r["id_b"])
            for r in _blocked_gram_candidates(df, 0.97, nb).collect()
        ]
        assert sorted(got) == want  # same set
        assert len(got) == len(set(got))  # exactly once
        assert all(a < b for a, b in got)


def test_gram_method_matches_expand(spark):
    """method="gram" (per-cluster tiled Gram matrix — the 100 TB path)
    returns the same pair SET as method="expand" with cosines equal to
    float64 rounding, including under multi-probe and a tile size smaller
    than the cluster (exercises the block loop)."""
    import numpy as np

    rng = np.random.default_rng(23)
    base = rng.normal(size=(40, 8))
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(40)]
    # plant near-dups: 40+i is a tiny perturbation of i for i < 10
    for i in range(10):
        rows.append((40 + i, [float(x * 1.0001 + 0.001) for x in base[i]]))
    df = spark.createDataFrame(rows, "vid BIGINT, emb ARRAY<FLOAT>")
    kw = dict(threshold=0.98, n_clusters=4, nprobe=2, seed=7)
    expand = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.embedding_near_dup_bucketed(
            df, "emb", "vid", method="expand", **kw
        ).collect()
    }
    gram = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.embedding_near_dup_bucketed(
            df, "emb", "vid", method="gram", **kw
        ).collect()
    }
    assert set(gram) == set(expand) and len(expand) >= 10
    for k, v in expand.items():
        assert gram[k] == pytest.approx(v, abs=1e-9)
    with pytest.raises(ValueError, match="method"):
        D.embedding_near_dup_bucketed(df, "emb", "vid", method="nope")


def test_gram_hot_cluster_cap_and_stats(spark):
    """The gram path truncates a degenerate cluster to its first
    max_cluster members by id (same semantics as expand) and reports
    capped_clusters through _stats; a sub-cluster tile size still covers
    every block pair."""
    rows = [(i, [1.0, float(i) * 1e-6]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    stats: dict = {}
    capped = D.embedding_near_dup_bucketed(
        df, "embedding", "vec_id", threshold=0.9, n_clusters=1, nprobe=1,
        max_cluster=5, method="gram", _stats=stats,
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(a, b) for a in range(5) for b in range(a + 1, 5)}
    assert stats["capped_clusters"] == 1
    # tile smaller than the cluster: same full pair set, exercised via the
    # private kernel (block-diagonal + off-diagonal tiles)
    from pyspark.sql import functions as F

    from pq_vector_spark.operators.dedup import _cluster_gram_pairs

    probed = df.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        F.lit(0).alias("_c"),
    )
    tiled = _cluster_gram_pairs(probed, 0.9, None, tile=7)
    assert tiled.count() == 30 * 29 // 2


def test_semantic_dedup_caches_contract(spark):
    """_caches persists the probed frame (its four consumers otherwise
    each re-run the centroid assignment — the 199 s r13 scale cost);
    diagnostics mode (_stats + _caches) records the fit/assign/pairs
    stage breakdown. Results identical to the uncached run."""
    from pq_vector_spark.operators.dedup import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.05, 0.0]),
        (3, [1.0, -0.05, 0.0]),
        (4, [0.0, 1.0, 0.0]),
        (5, [0.0, 1.0, 0.05]),
        (6, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")

    def run(**kw):
        return {
            (r["vec_id"], r["canonical_id"], r["is_canonical"])
            for r in semantic_dedup(
                df, "embedding", "vec_id", eps=0.01, n_clusters=2, nprobe=1,
                keep="outlier", method="gram", **kw
            ).collect()
        }

    plain = run()
    stats, caches = {}, []
    cached = run(_stats=stats, _caches=caches)
    assert cached == plain
    # probed + pairs persisted, caller releases both
    assert len(caches) == 2
    assert all(c.storageLevel.useMemory for c in caches)
    for key in ("fit_sec", "assign_sec", "pairs_sec", "n_pairs"):
        assert key in stats, key
    assert stats["n_pairs"] >= 2  # groups {1,2,3} and {4,5}
    for c in caches:
        c.unpersist()
    # _caches WITHOUT _stats: persist only, no diagnostic actions
    caches2: list = []
    assert run(_caches=caches2) == plain
    assert len(caches2) >= 1
    for c in caches2:
        c.unpersist()


def test_semantic_dedup_gram_matches_expand(spark):
    """semantic_dedup(method="gram") elects the same survivors as the
    expand path (min_id policy — the engine-replayable variant)."""
    import numpy as np

    rng = np.random.default_rng(31)
    base = rng.normal(size=(30, 6))
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(30)]
    for i in range(8):
        rows.append((30 + i, [float(x * 1.0002) for x in base[i]]))
    df = spark.createDataFrame(rows, "vid BIGINT, emb ARRAY<FLOAT>")
    kw = dict(eps=0.02, n_clusters=3, nprobe=3, keep="min_id", seed=5)
    a = {
        (r["vid"], r["canonical_id"], r["is_canonical"])
        for r in D.semantic_dedup(df, "emb", "vid", method="expand", **kw).collect()
    }
    b = {
        (r["vid"], r["canonical_id"], r["is_canonical"])
        for r in D.semantic_dedup(df, "emb", "vid", method="gram", **kw).collect()
    }
    assert a == b
    assert sum(1 for (_, _, canon) in a if not canon) >= 8


def test_paragraphs_no_cache_leak(spark):
    """r12 verdict #4: without _caches, remove_repeated_paragraphs must
    not leave a persisted frame behind after the caller's action — and
    the _caches contract still persists + releases on demand."""
    rows = [
        (0, "keep me\nshared footer"),
        (1, "other text\nshared footer"),
        (2, "unique doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    before = _persistent_rdd_ids(spark)
    stats: dict = {}
    out = D.remove_repeated_paragraphs(
        df, "text", "doc_id", min_docs=2, _stats=stats
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got[0] == "keep me" and got[2] == "unique doc"
    assert stats["hot_fingerprints"] == 1
    assert _persistent_rdd_ids(spark) - before == set()
    # opt-in persist path: frame registered in _caches, released by caller
    caches: list = []
    D.remove_repeated_paragraphs(
        df, "text", "doc_id", min_docs=2, _caches=caches
    ).collect()
    assert len(caches) == 1
    assert len(_persistent_rdd_ids(spark) - before) == 1
    for c in caches:
        c.unpersist(blocking=True)
    assert _persistent_rdd_ids(spark) - before == set()


def test_stats_paths_do_not_leak_cache(spark):
    """ADVICE r12 (low): diagnostic _stats runs without _caches must not
    leak a cached relation — embedding expand path, winnow, and the gram
    stat twin all count unpersisted."""
    before = _persistent_rdd_ids(spark)
    rows = [(i, [1.0, float(i)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    s1: dict = {}
    D.embedding_near_dup_bucketed(
        df, "embedding", "vec_id", threshold=0.99, n_clusters=2, nprobe=1,
        max_cluster=4, _stats=s1,
    ).collect()
    docs = spark.createDataFrame(
        [(i, "common words shared by every single document here") for i in range(8)],
        "doc_id: bigint, text: string",
    )
    s2: dict = {}
    D.winnow_overlap_pairs(
        docs, "text", "doc_id", min_shared=1, max_bucket=4, _stats=s2
    ).collect()
    assert "capped_clusters" in s1 and "dropped_fingerprints" in s2
    assert _persistent_rdd_ids(spark) - before == set()


def test_exact_dedup_index_matches_incremental(spark, tmp_path):
    """Persisted exact-fp index (r13): probing a delta against the index
    elects the same survivors as incremental_dedup against the raw
    corpus; appending the admitted rows makes a replayed delta drop
    fully; kind guards cross-wire exact and LSH indexes loudly."""
    from pq_vector_spark.operators.dedup import (
        append_exact_dedup_index,
        build_dedup_index,
        build_exact_dedup_index,
        incremental_dedup,
        incremental_dedup_exact_indexed,
    )

    rows = [(i, f"doc number {i} body") for i in range(20)]
    rows += [(100 + i, f"doc number {i} body") for i in range(5)]  # corpus dups
    corpus = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    delta = spark.createDataFrame(
        [
            (200, "doc number 3 body"),        # dup of corpus → dropped
            (201, "a genuinely fresh page"),   # admitted
            (202, "a genuinely fresh page"),   # within-delta dup of 201
            (203, "another fresh page here"),  # admitted
        ],
        "doc_id: bigint, text: string",
    )
    idx = str(tmp_path / "exact_idx")
    meta = build_exact_dedup_index(corpus, "text", idx)
    assert meta["kind"] == "exact"

    want = sorted(
        r["doc_id"] for r in incremental_dedup(corpus, delta, "text", "doc_id").collect()
    )
    got_df = incremental_dedup_exact_indexed(spark, idx, delta, "text", "doc_id")
    got = sorted(r["doc_id"] for r in got_df.collect())
    assert got == want == [201, 203]

    # admit the survivors (materialized above), replay the same delta:
    # everything now drops — the index covers the admitted rows
    admitted = delta.filter(F.col("doc_id").isin([201, 203]))
    append_exact_dedup_index(admitted, "text", idx)
    assert (
        incremental_dedup_exact_indexed(spark, idx, delta, "text", "doc_id").count()
        == 0
    )

    # kind guards: LSH index rejected by the exact probe and vice versa
    lsh = str(tmp_path / "lsh_idx")
    build_dedup_index(corpus, "text", "doc_id", lsh, num_hashes=8, bands=2)
    with pytest.raises(ValueError, match="not an exact dedup index"):
        incremental_dedup_exact_indexed(spark, lsh, delta, "text", "doc_id")
    with pytest.raises(ValueError, match="not an exact dedup index"):
        append_exact_dedup_index(admitted, "text", lsh)


def test_exact_dedup_index_probe_is_corpus_free(spark, tmp_path):
    """The probe plan reads ONLY the 16-byte fp table (column-pruned) —
    no corpus text scan, no corpus-side shuffle; the delta's fingerprint
    set broadcasts."""
    from pq_vector_spark.operators.dedup import (
        build_exact_dedup_index,
        incremental_dedup_exact_indexed,
    )

    corpus = spark.createDataFrame(
        [(i, f"body {i}") for i in range(50)], "doc_id: bigint, text: string"
    )
    idx = str(tmp_path / "exact_idx2")
    build_exact_dedup_index(corpus, "text", idx)
    delta = spark.createDataFrame(
        [(900, "body 7"), (901, "new page")], "doc_id: bigint, text: string"
    )
    out = incremental_dedup_exact_indexed(spark, idx, delta, "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert plan.count("Scan parquet") == 1 or "exact_idx2" in plan
    assert sorted(r["doc_id"] for r in out.collect()) == [901]


def test_expand_sorted_id_pairs_hybrid_branch_parity(spark):
    """The hybrid expansion (r13: small buckets via the single-row
    comprehension, big buckets via the two-step generator) emits the
    IDENTICAL pair set on both sides of the small_cap cut."""
    from pq_vector_spark.operators.dedup import _expand_sorted_id_pairs

    grouped = spark.createDataFrame(
        [(0, list(range(1, 9))), (1, [100, 101, 102])],
        "b: int, _ids: array<bigint>",
    )
    want = sorted(
        (r["id_a"], r["id_b"])
        for r in _expand_sorted_id_pairs(grouped, small_cap=1024).collect()
    )
    # force BOTH buckets down the big-bucket generator path
    got_big = sorted(
        (r["id_a"], r["id_b"])
        for r in _expand_sorted_id_pairs(grouped, small_cap=2).collect()
    )
    assert want == got_big
    n = 8
    assert len([p for p in want if p[0] >= 100]) == 3
    assert len([p for p in want if p[0] < 100]) == n * (n - 1) // 2


def test_ngram_jaccard_pairs_hot_shingle_streams(spark):
    """r16 (ordered by the r15 verdict): a hot shingle — boilerplate text
    shared by every doc — must stream through the big-bucket generator
    path, never materializing the bucket's C(n,2) pair set in one row.
    small_cap=2 forces EVERY bucket down that path; the result must be
    bit-identical to the fast path AND to the naive Python oracle. The
    pre-r16 form had no big path at all (one flatten row per bucket), so
    this parity cannot hold there by construction past the array limit."""
    from pq_vector_spark.operators.dedup import ngram_jaccard_pairs

    # 40 docs all sharing the boilerplate prefix (one hot shingle family),
    # plus distinct tails so jaccard varies; a disjoint pair for control
    docs = [(i, f"common boiler plate header text tail{i} x{i % 3}") for i in range(40)]
    docs += [(100, "totally different content"), (101, "totally different content")]
    df = spark.createDataFrame(docs, "doc_id: bigint, text: string")

    out = ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.0)
    # the hybrid must stay ONE plan: a filter-twice-and-union split would
    # re-run the corpus scan and the shingle exchange (the exact
    # duplication the r15 reshape removed) — pin 1 scan + 2 exchanges
    # (shingle grouping + pair-count agg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    fast = sorted(
        (r["id_a"], r["id_b"], r["jaccard"]) for r in out.collect()
    )
    streamed = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=0.0, small_cap=2
        ).collect()
    )
    assert fast == streamed and len(fast) > 0

    # naive oracle: word-trigram jaccard over all pairs
    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    want = []
    by_id = dict(docs)
    ids = sorted(by_id)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = sh(by_id[a]), sh(by_id[b])
            inter = len(sa & sb)
            if inter:
                want.append((a, b, inter / len(sa | sb)))
    assert fast == sorted(want)


# Column-op reference implementations: the pre-render forms of the dedup
# featurizers, kept verbatim as the oracle for the SQL-rendered forms.


def _ref_shingles(col, n=3):
    from pq_vector_spark.functions.text import tokens

    return F.transform(
        F.array(tokens(col)),
        lambda toks: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    )[0]


def _ref_shingle_hashes(col, n=3):
    from pq_vector_spark.functions.text import token_hash

    return F.transform(_ref_shingles(col, n), lambda s: token_hash(s) % D.MINHASH_M)


def _ref_shingle_token_hashes(col, n=3):
    from pq_vector_spark.functions.text import token_hash

    return F.transform(_ref_shingles(col, n), lambda s: token_hash(s))


def _ref_minhash_signature(col, n=3, num_hashes=32, seed=42):
    coeffs = D._minhash_coeffs(num_hashes, seed)
    hashes = _ref_shingle_hashes(col, n)
    coeff_arr = F.array(
        *[
            F.struct(F.lit(a).cast("bigint").alias("a"), F.lit(b).cast("bigint").alias("b"))
            for a, b in coeffs
        ]
    )
    init = F.array_repeat(F.lit(D.MINHASH_P).cast("bigint"), num_hashes)
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc, coeff_arr, lambda m, c: F.least(m, (c["a"] * h + c["b"]) % D.MINHASH_P)
        ),
    )


def _ref_band_structs(sig_col, bands, rows_per_band):
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.concat_ws(
                    ",",
                    *[sig_col[i * rows_per_band + r] for r in range(rows_per_band)],
                ).alias("key"),
            )
            for i in range(bands)
        ]
    )


def test_sql_rendered_featurization_identical(spark):
    """The SQL-rendered shingles / shingle_hashes / shingle_token_hashes /
    minhash_signature / _band_structs must be bit-identical to the
    Column-op reference implementations above — including empty/NULL text,
    quotes, backslashes, SQL-special characters, and unicode."""
    from pq_vector_spark.operators.dedup import (
        _band_structs,
        minhash_signature,
        shingle_hashes,
        shingle_token_hashes,
        shingles,
    )

    df = spark.createDataFrame(
        [
            (1, ""), (2, None), (3, "a"),
            (4, "  x\t y\nz  "), (5, "one two three four five six"),
            (6, "`backtick` 'quote' \\ slash % percent _ under"),
            (7, "éü unicode tökens"), (8, "a b a b a b a b"),
        ],
        "doc_id int, text string",
    )
    text = F.col("text")
    for label, fast, slow in (
        ("shingles", shingles("text", 3), _ref_shingles(text, 3)),
        ("shingle_hashes", shingle_hashes("text", 3),
         _ref_shingle_hashes(text, 3)),
        ("shingle_token_hashes", shingle_token_hashes("text", 3),
         _ref_shingle_token_hashes(text, 3)),
        ("minhash", minhash_signature("text", 3, 32, 42),
         _ref_minhash_signature(text, 3, 32, 42)),
        ("minhash_n2_h16", minhash_signature("text", 2, 16, 7),
         _ref_minhash_signature(text, 2, 16, 7)),
    ):
        a = df.select(fast.alias("x")).collect()
        b = df.select(slow.alias("x")).collect()
        assert a == b, label

    sig = df.select(
        "doc_id", minhash_signature("text", 3, 32, 42).alias("_sig")
    )
    a = sig.select(F.explode(_band_structs("_sig", 8, 4)).alias("bk")).select(
        "bk.band", "bk.key"
    ).collect()
    b = sig.select(
        F.explode(_ref_band_structs(F.col("_sig"), 8, 4)).alias("bk")
    ).select("bk.band", "bk.key").collect()
    assert a == b, "band_structs"
