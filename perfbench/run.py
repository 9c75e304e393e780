"""Layered benchmark for pq_vector_spark.

    python3 perfbench/run.py --workload ann_sql --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. One workload runs in one fresh process and
JVM (``local[<cores>]``, one closed-loop client). ``--trace 0`` prints the
end-to-end metrics named in ``BENCHMARK.json``; ``--trace 1`` runs half the
window untraced and half traced and prints the per-layer metrics. The last
stdout line is the result object; the line before it is the config
fingerprint. The full record (fingerprint, metrics, every op, and in a
traced run every span) is written under ``perfbench/.work/results/``;
``perfbench/compare.py`` compares two records.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BENCH_VERSION = 1
# Spark settings recorded in the fingerprint
CONF_KEYS = [
    "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.parquet.pushdown.inFilterThreshold", "spark.sql.files.maxPartitionBytes",
    "spark.sql.autoBroadcastJoinThreshold", "spark.ui.enabled",
]
DRIVER_MEM = "3g"
KEEP_FIXTURES = 16


def cores() -> int:
    return len(os.sched_getaffinity(0))


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def configure_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and size the local session."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["PQ_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "--conf spark.ui.enabled=false pyspark-shell"
    )


def import_package():
    """Import the checkout's package; refuse one from anywhere else."""
    import pq_vector_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(pq_vector_spark.__file__))) != ROOT:
        raise SystemExit(f"pq_vector_spark imported from outside {ROOT}")
    return pq_vector_spark


class SetupFailed(RuntimeError):
    pass


class Context:
    def __init__(self, args, run_dir):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.cache_dir = os.path.join(WORK, "fixtures")
        self.spark = None
        self.tracer = None
        self.traced_since = None

    def require(self, check) -> None:
        ok, detail = check
        if not ok:
            raise SetupFailed(detail)

    def phase(self, spans):
        """Spans of the traced window (or all, when none fall inside it)."""
        inside = [s for s in spans if self.traced_since is not None and s["start"] >= self.traced_since]
        return inside or spans


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    return (py_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def fingerprint(args, spark, workload) -> dict:
    import numpy
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    conf = {k: spark.conf.get(k, None) for k in CONF_KEYS}
    return {
        "comparable": {
            "bench_version": BENCH_VERSION,
            "workload": workload.name,
            "sizes": workload.sizes,
            "seconds": args.seconds,
            "cores": cores(),
            "machine": platform.machine(),
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "conf": conf,
        },
        "commit": commit,
        "seed": args.seed,
        "trace": args.trace,
    }


def prune_fixtures(cache_dir: str) -> None:
    if not os.path.isdir(cache_dir):
        return
    dirs = sorted(
        (os.path.join(cache_dir, d) for d in os.listdir(cache_dir)),
        key=os.path.getmtime, reverse=True,
    )
    for d in dirs[KEEP_FIXTURES:]:
        shutil.rmtree(d, ignore_errors=True)


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it; with fewer than eleven samples, the maximum at 100."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return (xs[-1], 100.0) if xs else (0.0, 0.0)
    return xs[n - 11], 100.0 * (n - 10) / n


def measure(workload, seconds: float) -> list[dict]:
    """Closed loop, one client: run ops back to back for ``seconds``."""
    ops = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or not ops:
        try:
            res = workload.op(len(ops))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res = {"kind": "error", "latency": float("nan"), "ok": False, "detail": "raised",
                   "recall": 0.0, "precision": 0.0}
        if not res["ok"]:
            print(f"op {len(ops)} failed: {res['detail']}", file=sys.stderr)
        ops.append(res)
    return ops


def layer_metrics(ctx, workload, plain, traced, session_start_s) -> dict:
    """Per-layer metrics of a traced run; ``plain`` and ``traced`` are the ops
    of its untraced and traced halves."""
    from perfbench.trace import STAGE_FIELDS

    tr = ctx.tracer
    metrics = workload.layers()
    op_spans = ctx.phase(tr.named("op"))
    for key in ("jobs", "stages", "tasks", "exec_s") + STAGE_FIELDS:
        metrics[f"spark.{key}"] = statistics.median([tr.inclusive(s, key) for s in op_spans] or [0])
    lat = [o["latency"] for o in plain if o["kind"] != "error"]
    lat_traced = [o["latency"] for o in traced if o["kind"] != "error"]
    p50 = statistics.median(lat) if lat else 0.0
    p50_traced = statistics.median(lat_traced) if lat_traced else 0.0
    t_val, t_pct = tail(lat)
    metrics.update({
        "session.start_s": session_start_s,
        "op.tail_s": t_val,
        "op.tail_pct": t_pct,
        "op.samples": len(lat),
        "mem.peak_rss_mb": peak_rss_mb(ctx.spark),
        "quality.precision": statistics.fmean(o["precision"] for o in plain),
        "trace.overhead_s": p50_traced - p50,
        "trace.overhead_frac": (p50_traced - p50) / p50 if p50 else 0.0,
    })
    return metrics


def run_one(args) -> int:
    spec = load_spec()
    t_setup = time.perf_counter()
    import_package()
    from perfbench import checks
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS
    from pq_vector_spark import get_spark

    pid_dir = os.path.join(WORK, f"run-{os.getpid()}")
    configure_env(pid_dir)
    bad = checks.self_test()
    if bad:
        print(f"check self-test failed: {bad}", file=sys.stderr)
    ctx = Context(args, pid_dir)
    workload = WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    ctx.spark = spark = get_spark()
    session_start_s = time.perf_counter() - t0
    ctx.tracer = Tracer(spark, enabled=ctx.trace)
    try:
        if ctx.trace:
            ctx.tracer.wrap_internals()
        try:
            workload.setup()
        except SetupFailed as e:
            # a wrong answer during set-up: report it instead of measuring
            print(f"set-up check failed: {e}", file=sys.stderr)
            names = spec["per_layer" if ctx.trace else "end_to_end"]
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {
                m["name"]: {"value": 0.0, "unit": m["unit"]} for m in names}}))
            return 0
        setup_s = time.perf_counter() - t_setup
        prune_fixtures(ctx.cache_dir)
        if ctx.trace:
            ctx.tracer.enabled = False
            plain = measure(workload, args.seconds / 2)
            ctx.tracer.enabled = True
            ctx.traced_since = time.perf_counter()
            traced = measure(workload, args.seconds / 2)
        else:
            plain, traced = measure(workload, args.seconds), []
        fp = fingerprint(args, spark, workload)
        if ctx.trace:
            # layers() may run checked probe ops; they count in the totals
            metrics = layer_metrics(ctx, workload, plain, traced, session_start_s)
            names = spec["per_layer"]
        else:
            lat = [o["latency"] for o in plain if o["kind"] != "error"]
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(lat) if lat else 0.0,
                "recall": statistics.fmean(o["recall"] for o in plain),
            }
            names = spec["end_to_end"]
        all_ops = plain + traced + workload.probe_ops
        attempted = len(all_ops)
        failed = sum(not o["ok"] for o in all_ops)
        metrics["failed_frac"] = failed / attempted
        out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
        result = {"correct": not bad and failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": out}
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        rec = os.path.join(
            WORK, "results",
            f"{workload.name}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json",
        )
        ctx.tracer.dump(rec, {"fingerprint": fp, "result": result, "all_metrics": metrics,
                              "ops": all_ops})
    finally:
        ctx.tracer.unwrap_internals()
        stop_spark(spark)
        shutil.rmtree(pid_dir, ignore_errors=True)
    print("fingerprint: " + json.dumps(fp, sort_keys=True))
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Every workload, each in its own process; one summary line at the end."""
    from perfbench.workloads import WORKLOADS

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        sys.stderr.write(proc.stderr[-4000:])
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit {proc.returncode}")
            return 1
        res = json.loads(lines[-1])
        for key, m in res["metrics"].items():
            print(f"{name:14s} {key:28s} {m['value']:.6g} {m['unit']}")
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true",
                   help="check that every output check fires on a planted fault")
    args = p.parse_args(argv)
    if args.self_test:
        from perfbench import checks

        bad = checks.self_test()
        print("self-test: " + ("ok" if not bad else f"checks that misbehaved: {bad}"))
        return 1 if bad else 0
    if args.workload == "all":
        return run_all(args)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)} or all")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
