"""The workloads. Each has ``setup`` (fixtures, index build, warm-up), ``op``
(one timed unit of work, checked against a numpy or planted truth) and
``layers`` (per-layer metrics from the traced window's spans).

Sizes are scaled so that a run, JVM start included, fits the benchmark's
time budget on a 4-core host. The kernel route chosen by dim, nprobe 16 and
the duplicate mix are kept.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, fixtures

K = 100
NPROBE = 16
# untimed warm-up: at least this many ops and this many seconds, since the
# JIT keeps speeding ops up for several ops after the first
WARMUP_OPS = 2
WARMUP_S = 6.0
SQL = "SELECT vec_id FROM t ORDER BY array_distance(embedding, [{vec}]) LIMIT 100"


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def _vec_literal(q: np.ndarray) -> str:
    # float32 values printed exactly, so the engine and numpy rank the same query
    return ", ".join(repr(float(x)) for x in q)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _layout_stats(path: str) -> tuple[int, int, int]:
    """(rows, row groups, data files) of a Parquet layout directory."""
    rows = groups = files = 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            md = pq.read_metadata(os.path.join(path, name))
            rows += md.num_rows
            groups += md.num_row_groups
            files += 1
    return rows, groups, files


def warmup(op, ctx) -> None:
    """Run checked, untimed ops until both warm-up minimums are met."""
    t0 = time.perf_counter()
    i = 0
    while i < WARMUP_OPS or time.perf_counter() - t0 < WARMUP_S:
        res = op(i)
        ctx.require((res["ok"], res["detail"]))
        i += 1


class Workload:
    name = ""
    sizes: dict = {}

    def __init__(self, ctx):
        self.ctx = ctx
        # checked ops run outside the timed window (traced runs only)
        self.probe_ops: list[dict] = []

    @property
    def spark(self):
        return self.ctx.spark

    def span(self, name, **attrs):
        return self.ctx.tracer.span(name, **attrs)


class _VectorQueries(Workload):
    """Shared query loop of ann_sql and exact_scan: the same table, query
    text and seeded query vectors; only the table registration differs."""

    # 102 centers keep ~195 rows per center, as in a 200k-row, 1024-center table
    sizes = {"rows": 20_000, "dim": 256, "n_centers": 102, "noise": 0.15, "queries": 256}
    indexed = False

    def setup(self):
        from pq_vector_spark import PqSession, VectorTopKOptions

        c, s = self.ctx, self.sizes
        self.src, _ = fixtures.embeddings(
            c.cache_dir, c.seed, s["rows"], s["dim"], n_centers=s["n_centers"], noise=s["noise"]
        )
        self.ids, self.mat = fixtures.read_vectors(self.src)
        self.pool = fixtures.queries(c.seed, self.mat, s["queries"])
        if self.indexed:
            from pq_vector_spark.plans.sql import register_indexed_table

            self.layout = os.path.join(c.run_dir, "layout")
            self.build(self.layout)
            register_indexed_table(self.spark, "t", self.layout)
        else:
            self.spark.read.parquet(self.src).createOrReplaceTempView("t")
        self.sess = PqSession(self.spark, VectorTopKOptions(nprobe=NPROBE))
        # warm-up walks the pool from the end; timed ops from the start
        warmup(lambda i: self.query(len(self.pool) - 1 - i), c)

    def op(self, i: int) -> dict:
        return self.query(i % (len(self.pool) // 2))

    def query(self, qi: int) -> dict:
        from pyspark.sql import Observation

        q = self.pool[qi]
        text = SQL.format(vec=_vec_literal(q))
        tr = self.ctx.tracer
        obs = Observation(f"pb{qi}_{time.monotonic_ns()}") if tr.enabled else None
        with self.span("op", kind="query") as sp:
            t0 = time.perf_counter()
            with self.span("plans.sql"):
                df = self.sess.sql(text, observation=obs)
            with self.span("collect"):
                got = [r[0] for r in df.collect()]
            lat = time.perf_counter() - t0
        if sp is not None:
            from pq_vector_spark import last_decline_reason, vector_route
            from pq_vector_spark.plans.explain import observed_metrics

            sp["attrs"]["route"] = vector_route(df)
            sp["attrs"]["decline"] = last_decline_reason()
            sp["attrs"].update(observed_metrics(obs, execute=False))
        top, d, kth = checks.true_topk(self.mat, self.ids, q, K)
        if self.indexed:
            ok, detail = checks.check_ann(got, top, K)
        else:
            ok, detail = checks.check_exact_topk(got, self.ids, d, kth, K)
        r = checks.recall(got, top)
        prec = len(set(got) & set(top.tolist())) / max(1, len(got))
        return {"kind": "query", "latency": lat, "ok": ok, "detail": detail,
                "recall": r, "precision": prec}

    def ref_rows(self, path: str, indexed: bool):
        """Same-host references: a Spark scan of only the embedding column
        over the rows the first query scans, and numpy's in-memory top-100."""
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(path)
        if indexed:
            from pq_vector_spark.index.build import CLUSTER_COL
            from pq_vector_spark.index.kmeans import nearest_centroids
            from pq_vector_spark.index.search import load_index

            cents = load_index(self.spark, path).centroids
            probed = [int(c) for c in nearest_centroids(self.pool[0], cents, NPROBE)]
            df = df.filter(F.col(CLUSTER_COL).isin(probed))
        scan = []
        for _ in range(3):
            t0 = time.perf_counter()
            df.select("embedding").write.format("noop").mode("overwrite").save()
            scan.append(time.perf_counter() - t0)
        topk = []
        for q in self.pool[:5]:
            t0 = time.perf_counter()
            checks.true_topk(self.mat, self.ids, q, K)
            topk.append(time.perf_counter() - t0)
        return _med(scan), _med(topk)

    def layers(self) -> dict:
        tr = self.ctx.tracer
        spans = self.ctx.phase(tr.named("op"))
        out = {
            "plans.construct_s": _med([tr.child_time(s, "plans.sql") for s in spans]),
            "plans.ivf_route_frac": sum(s["attrs"].get("route") == "ivf" for s in spans) / max(1, len(spans)),
            "plans.declines": sum(s["attrs"].get("decline") is not None for s in spans),
            "search.load_index_s": _med([tr.child_time(s, "search.load_index") for s in spans]),
            "search.candidate_rows": _med([s["attrs"].get("candidate_rows", 0) for s in spans]),
            "search.files_scanned": _med([s["attrs"].get("files_scanned", 0) for s in spans]),
            "distance.codegen_compiles": _med([tr.inclusive(s, "codegen_compiles") for s in spans]),
            "distance.codegen_compile_s": _med([tr.inclusive(s, "codegen_compile_s") for s in spans]),
        }
        out["search.candidate_frac"] = out["search.candidate_rows"] / self.sizes["rows"]
        scan_s, numpy_s = self.ref_rows(self.layout if self.indexed else self.src, self.indexed)
        out["ref.scan_only_s"] = scan_s
        out["ref.numpy_topk_s"] = numpy_s
        exec_s = _med([tr.inclusive(s, "exec_s") for s in spans])
        out["distance.kernel_s"] = max(0.0, exec_s - scan_s)
        return out


class AnnSql(_VectorQueries):
    """The headline path, plus the write side of the same layout: the index
    is built in set-up, and after its timed window a traced run builds it
    once more and appends ``sizes["appends"]`` batches of fresh rows,
    checking the sidecar after every write."""

    name = "ann_sql"
    indexed = True
    sizes = {**_VectorQueries.sizes, "append_rows": 2_000, "appends": 3}

    def build(self, layout: str) -> None:
        """Fresh ``build_index`` into ``layout``, checked; keeps the new
        layout's shape for the build.* metrics."""
        from pq_vector_spark import build_index

        with self.span("build"):
            meta = build_index(self.spark, self.src, layout)
        self.n_clusters = int(meta["n_clusters"])
        self.rows = self.sizes["rows"]
        self.ctx.require(self.check_layout(layout))
        _, groups, files = _layout_stats(layout)
        self.layout_shape = {
            "build.n_files": files,
            "build.row_groups": groups,
            "build.index_bytes_ratio": _dir_bytes(layout) / os.path.getsize(self.src),
        }

    def check_layout(self, layout: str):
        from pq_vector_spark.index.search import load_index

        meta = load_index(self.spark, layout, use_cache=False).meta
        layout_rows, _, _ = _layout_stats(layout)
        return checks.check_sidecar(
            meta, rows=self.rows, dim=self.sizes["dim"], n_clusters=self.n_clusters,
            layout_rows=layout_rows,
        )

    def write_probe(self) -> None:
        """Fresh build, then appends, into a second layout; each write is
        checked and counted as an op of the run."""
        from pq_vector_spark import append_to_index

        c, s = self.ctx, self.sizes
        layout = os.path.join(c.run_dir, "layout-writes")
        self.build(layout)
        for j in range(1, s["appends"] + 1):
            batch, _ = fixtures.embeddings(
                c.cache_dir, c.seed, s["append_rows"], s["dim"], n_centers=s["n_centers"],
                noise=s["noise"], batch=j, start_id=s["rows"] + (j - 1) * s["append_rows"],
            )
            t0 = time.perf_counter()
            with self.span("append"):
                append_to_index(self.spark, batch, layout)
            self.rows += s["append_rows"]
            ok, detail = self.check_layout(layout)
            self.probe_ops.append({"kind": "append", "latency": time.perf_counter() - t0,
                                   "ok": ok, "detail": detail})

    def layers(self) -> dict:
        out = super().layers()
        self.write_probe()
        tr, phase = self.ctx.tracer, self.ctx.phase
        # build/append time not inside a wrapped phase is the assign pass
        # plus the cluster-sorted write
        parts = ("build.validate", "build.sample", "build.fit", "build.counts",
                 "build.file_stats", "build.sidecar")
        builds = phase(tr.named("build"))
        tot = [s["end"] - s["start"] for s in builds]
        out["build.total_s"] = _med(tot)
        for p in parts:
            out[p + "_s"] = _med([tr.child_time(s, p) for s in builds])
        out["build.sidecar_s"] += out.pop("build.file_stats_s")
        out["build.write_s"] = _med([
            t - sum(tr.child_time(s, p) for p in parts) for t, s in zip(tot, builds)
        ])
        out.update(self.layout_shape)
        appends = phase(tr.named("append"))
        tot = [s["end"] - s["start"] for s in appends]
        parts = ("search.load_index", "build.validate", "build.counts", "build.file_stats", "build.sidecar")
        out["append.total_s"] = _med(tot)
        out["append.counts_s"] = _med([tr.child_time(s, "build.counts") for s in appends])
        out["append.write_s"] = _med([
            t - sum(tr.child_time(s, p) for p in parts) for t, s in zip(tot, appends)
        ])
        return out


class ExactScan(_VectorQueries):
    name = "exact_scan"
    indexed = False


class DedupMinhash(Workload):
    """MinHash LSH pairs then connected components over a corpus with
    planted exact and near duplicates."""

    name = "dedup_minhash"
    sizes = {"docs": 5_000, "unique_frac": 0.85, "substitutions": 3,
             "num_hashes": 32, "bands": 8, "threshold": 0.6}

    def setup(self):
        c, s = self.ctx, self.sizes
        self.src, man = fixtures.documents(
            c.cache_dir, c.seed, s["docs"], unique_frac=s["unique_frac"],
            substitutions=s["substitutions"],
        )
        self.truth = checks.planted_pairs(man["planted"])
        warmup(self.op, c)

    def _pairs(self, docs, **kw):
        from pq_vector_spark.operators.dedup import minhash_lsh_pairs

        s = self.sizes
        return minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=s["num_hashes"], bands=s["bands"],
            threshold=s["threshold"], **kw,
        )

    def op(self, i: int) -> dict:
        from pyspark.sql import Observation
        from pq_vector_spark.operators.dedup import connected_components

        docs = self.spark.read.parquet(self.src)
        with self.span("op", kind="dedup") as sp:
            t0 = time.perf_counter()
            if sp is None:
                rows = connected_components(self._pairs(docs)).collect()
            else:
                # traced: materialize the pairs first so the two layers split
                obs = Observation(f"pbd{time.monotonic_ns()}")
                with self.span("dedup.pairs"):
                    pairs = self._pairs(docs, observation=obs).persist()
                    n_pairs = pairs.count()
                with self.span("dedup.resolve"):
                    rows = connected_components(pairs).collect()
                sp["attrs"]["pairs"] = n_pairs
                sp["attrs"]["dropped_bucket_rows"] = obs.get.get("dropped_bucket_rows") or 0
            lat = time.perf_counter() - t0
        # the operator persists its signature frames; drop them between ops
        self.spark.catalog.clearCache()
        ok, detail, r, p = checks.score_components(
            [(row[0], row[1]) for row in rows], self.truth
        )
        return {"kind": "dedup", "latency": lat, "ok": ok, "detail": detail,
                "recall": r, "precision": p}

    def layers(self) -> dict:
        tr = self.ctx.tracer
        spans = self.ctx.phase(tr.named("op"))
        docs = self.spark.read.parquet(self.src)
        cands = self._pairs(docs, verify=False).count()
        self.spark.catalog.clearCache()
        return {
            "dedup.pairs_s": _med([tr.child_time(s, "dedup.pairs") for s in spans]),
            "dedup.resolve_s": _med([tr.child_time(s, "dedup.resolve") for s in spans]),
            "dedup.pairs": _med([s["attrs"].get("pairs", 0) for s in spans]),
            "dedup.candidate_pairs": float(cands),
            "dedup.dropped_bucket_rows": _med([s["attrs"].get("dropped_bucket_rows", 0) for s in spans]),
        }


WORKLOADS = {w.name: w for w in (AnnSql, ExactScan, DedupMinhash)}
