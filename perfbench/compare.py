"""Compare two sets of benchmark records (the JSON files ``run.py`` writes
under ``perfbench/.work/results/``).

    python3 perfbench/compare.py BASE.json [BASE2.json ...] -- NEW.json [NEW2.json ...]

Records are grouped by workload and trace flag. Within a group, every
record's config fingerprint (``fingerprint.comparable``: cores, versions,
Spark conf, fixture sizes, run length) must match; otherwise the group is
reported as not comparable and nothing is compared. Commit and seed are
recorded but do not affect comparability. For each metric the medians and
quartiles of both sides are printed, with the change against the bound
from ``BENCHMARK.json``. Exit code 2 when any group is not comparable.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(paths):
    groups: dict = {}
    for p in paths:
        with open(p) as f:
            rec = json.load(f)
        fp = rec["fingerprint"]
        key = (fp["comparable"]["workload"], fp["trace"])
        groups.setdefault(key, []).append(rec)
    return groups


def _diff(a: dict, b: dict, prefix="") -> list[str]:
    out = []
    for k in sorted(set(a) | set(b)):
        va, vb = a.get(k), b.get(k)
        if isinstance(va, dict) and isinstance(vb, dict):
            out += _diff(va, vb, f"{prefix}{k}.")
        elif va != vb:
            out.append(f"{prefix}{k}: {va!r} vs {vb!r}")
    return out


def _quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main(argv) -> int:
    if "--" not in argv:
        print(__doc__)
        return 1
    cut = argv.index("--")
    base, new = _load(argv[:cut]), _load(argv[cut + 1:])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    status = 0
    for key in sorted(set(base) & set(new)):
        recs = base[key] + new[key]
        ref = recs[0]["fingerprint"]["comparable"]
        diffs = sorted({d for r in recs[1:] for d in _diff(ref, r["fingerprint"]["comparable"])})
        print(f"== {key[0]} (trace {key[1]}): {len(base[key])} base vs {len(new[key])} new runs")
        if diffs:
            print("   NOT COMPARABLE: " + "; ".join(diffs))
            status = 2
            continue
        for name in recs[0]["result"]["metrics"]:
            b = [r["result"]["metrics"][name]["value"] for r in base[key]]
            n = [r["result"]["metrics"][name]["value"] for r in new[key]]
            bq, nq = _quartiles(b), _quartiles(n)
            change = (nq[1] - bq[1]) / bq[1] if bq[1] else 0.0
            m = bounds.get(name, {})
            worse = change if m.get("better") == "lower" else -change
            verdict = ""
            if "bound" in m:
                verdict = "REGRESSION" if worse > m["bound"] else "ok"
            print(
                f"   {name:28s} base {bq[1]:.6g} [{bq[0]:.4g}, {bq[2]:.4g}]"
                f"  new {nq[1]:.6g} [{nq[0]:.4g}, {nq[2]:.4g}]  {change:+.1%} {verdict}"
            )
    return status


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
