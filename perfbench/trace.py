"""In-memory spans for the traced run.

A span times one call made from the benchmark's files. While a span is open
its id is the Spark job group, so every job the call starts is attributed to
it; on close the span collects those jobs' stage metrics from Spark's
status store. Spans stay in memory and are written out once, at the end.

``wrap_internals`` additionally times a few of the package's internal phases
(sidecar load, build sample / fit / counts / sidecar, interception) by
replacing the module attributes they are called through with timing
wrappers. A missing attribute is skipped and listed as unwrapped, so a
renamed internal never breaks the benchmark; its layer metric then reads 0.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import time

# (module, attribute, span name)
INTERNALS = [
    ("pq_vector_spark.index.search", "load_index", "search.load_index"),
    ("pq_vector_spark.index.search", "indexed_topk", "search.indexed_topk"),
    ("pq_vector_spark.plans.intercept", "try_intercept_topk", "plans.intercept"),
    ("pq_vector_spark.index.build", "validate_vector_column", "build.validate"),
    ("pq_vector_spark.index.build", "sample_embeddings_to_driver", "build.sample"),
    ("pq_vector_spark.index.build", "train_kmeans", "build.fit"),
    ("pq_vector_spark.index.build", "_collect_cluster_counts", "build.counts"),
    ("pq_vector_spark.index.build", "_collect_file_stats", "build.file_stats"),
    ("pq_vector_spark.index.build", "_write_sidecar", "build.sidecar"),
]

STAGE_FIELDS = ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "executor_cpu_s", "gc_s")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self.unwrapped: list[str] = []
        self._restore: list[tuple] = []
        jvm = spark._jvm
        self._jsc = spark.sparkContext._jsc.sc()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "attrs": dict(attrs),
        }
        group = f"perfbench-span-{sp['id']}"
        sp["group"] = group
        cg0 = self._codegen_totals()
        sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            cg1 = self._codegen_totals()
            sp["codegen_compiles"] = cg1[0] - cg0[0]
            sp["codegen_compile_s"] = max(0.0, (cg1[1] - cg0[1]) / 1000.0)
            sp["spark"] = self._job_metrics(group)
            self.spans.append(sp)

    def _codegen_totals(self):
        snap = self._codegen.getSnapshot()
        return int(self._codegen.getCount()), float(sum(snap.getValues()))

    def _job_metrics(self, group: str) -> dict:
        """Jobs/stages/tasks and stage totals of the jobs run under ``group``
        (this span only; children run under their own groups)."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict.fromkeys(("jobs", "stages", "tasks", "exec_s") + STAGE_FIELDS, 0)
        intervals = []
        seen = set()
        for jid in self.spark.sparkContext.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append(
                    (job.submissionTime().get().getTime(), job.completionTime().get().getTime())
                )
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
        # wall time covered by this span's jobs (union of job intervals)
        end = None
        for a, b in sorted(intervals):
            if end is None or a > end:
                out["exec_s"] += (b - a) / 1e3
                end = b
            elif b > end:
                out["exec_s"] += (b - end) / 1e3
                end = b
        return out

    # -- queries over finished spans -------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def descendants(self, sp: dict) -> list[dict]:
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [sp["id"]]
        while todo:
            for c in kids.get(todo.pop(), []):
                out.append(c)
                todo.append(c["id"])
        return out

    def inclusive(self, sp: dict, key: str) -> float:
        """A Spark or codegen total over ``sp`` and all spans below it."""
        tree = [sp] + self.descendants(sp)
        if key.startswith("codegen_"):
            return sum(s[key] for s in tree)
        return sum(s["spark"][key] for s in tree)

    def child_time(self, sp: dict, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.descendants(sp) if s["name"] == name)

    # -- wrapping package internals --------------------------------------
    def wrap_internals(self) -> None:
        for mod_name, attr, span_name in INTERNALS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr, None)
            if not callable(fn):
                self.unwrapped.append(f"{mod_name}.{attr}")
                continue
            self._restore.append((mod, attr, fn))
            setattr(mod, attr, self._timed(fn, span_name))

    def unwrap_internals(self) -> None:
        for mod, attr, fn in reversed(self._restore):
            setattr(mod, attr, fn)
        self._restore.clear()

    def _timed(self, fn, span_name: str):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(span_name):
                return fn(*a, **kw)

        return wrapper

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "unwrapped": self.unwrapped, "spans": self.spans}, f)
