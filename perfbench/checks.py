"""Output checks. Each returns ``(ok, detail)``; a failed check counts its op
as failed. ``self_test()`` feeds each check a correct output and a planted
fault and confirms that the check passes the first and fires on the second.
"""

from __future__ import annotations

import numpy as np

# an ANN answer whose recall falls below this floor counts as a failed op
# (recall itself is reported as a metric)
RECALL_FLOOR = 0.5
# dedup answers must recover at least this share of planted pairs and
# keep false merges below 1 - PRECISION_FLOOR
DUP_RECALL_FLOOR = 0.5
DUP_PRECISION_FLOOR = 0.9


def sq_dists(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Squared L2 in float64, the precision the engine's kernels use."""
    diff = mat.astype(np.float64) - q.astype(np.float64)
    return np.einsum("ij,ij->i", diff, diff)


def true_topk(mat: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int):
    """(ids of the exact top-k, their distances, the k-th distance)."""
    d = sq_dists(mat, q)
    part = np.argpartition(d, k - 1)[:k]
    order = part[np.argsort(d[part], kind="stable")]
    return ids[order], d, float(d[order[-1]])


def check_exact_topk(returned, ids, dists, kth: float, k: int, rtol: float = 1e-9):
    """``returned`` must be k distinct ids forming an exact top-k: every
    returned row lies within the k-th distance and every row strictly closer
    than it is present (rows tied at the boundary may go either way)."""
    ret = list(returned)
    if len(ret) != k or len(set(ret)) != k:
        return False, f"expected {k} distinct ids, got {len(ret)} ({len(set(ret))} distinct)"
    pos = {int(v): i for i, v in enumerate(ids)}
    if any(int(r) not in pos for r in ret):
        return False, "returned an id not in the table"
    tol = rtol * max(kth, 1.0)
    got = np.array([dists[pos[int(r)]] for r in ret])
    if (got > kth + tol).any():
        return False, "returned a row farther than the k-th nearest"
    must = set(int(v) for v in ids[dists < kth - tol])
    missing = must - set(int(r) for r in ret)
    if missing:
        return False, f"{len(missing)} strictly closer rows missing"
    return True, ""


def recall(returned, truth) -> float:
    return len(set(int(r) for r in returned) & set(int(t) for t in truth)) / len(truth)


def check_ann(returned, truth, k: int):
    """k distinct ids, with recall against ``truth`` at least the floor."""
    ret = list(returned)
    if len(ret) != k or len(set(ret)) != k:
        return False, f"expected {k} distinct ids, got {len(ret)}"
    r = recall(ret, truth)
    if r < RECALL_FLOOR:
        return False, f"recall {r:.3f} below floor {RECALL_FLOOR}"
    return True, ""


def check_sidecar(meta: dict, *, rows: int, dim: int, n_clusters: int, layout_rows: int):
    """Index sidecar must agree with what was written: row count, dim,
    cluster count, per-file cluster counts summing to the row count, and the
    layout's Parquet row total."""
    if int(meta.get("row_count", -1)) != rows:
        return False, f"sidecar row_count {meta.get('row_count')} != {rows}"
    if int(meta.get("dim", -1)) != dim:
        return False, f"sidecar dim {meta.get('dim')} != {dim}"
    if int(meta.get("n_clusters", -1)) != n_clusters:
        return False, f"sidecar n_clusters {meta.get('n_clusters')} != {n_clusters}"
    stats = meta.get("file_stats") or []
    counted = sum(n for fs in stats for _, n in (fs.get("counts") or []))
    if counted != rows:
        return False, f"per-file cluster counts sum to {counted}, not {rows}"
    if layout_rows != rows:
        return False, f"layout holds {layout_rows} rows, not {rows}"
    return True, ""


def planted_pairs(planted) -> set:
    """All duplicate pairs implied by the planted (base, copy, kind) triples:
    a base and its copies form one group; every pair inside a group counts."""
    groups: dict = {}
    for base, copy, _ in planted:
        groups.setdefault(int(base), {int(base)}).add(int(copy))
    out = set()
    for g in groups.values():
        m = sorted(g)
        out.update((m[i], m[j]) for i in range(len(m)) for j in range(i + 1, len(m)))
    return out


def score_components(rows, truth_pairs: set):
    """Score ``(node, component)`` rows against the planted pairs.

    Returns (ok, detail, recall, precision). Components must be labelled by
    their minimum member id (the operator's contract)."""
    comps: dict = {}
    for node, comp in rows:
        comps.setdefault(int(comp), []).append(int(node))
    pred = set()
    for label, members in comps.items():
        if min(members) != label:
            return False, f"component {label} is not labelled by its min member", 0.0, 0.0
        m = sorted(members)
        pred.update((m[i], m[j]) for i in range(len(m)) for j in range(i + 1, len(m)))
    hit = len(pred & truth_pairs)
    rec = hit / len(truth_pairs) if truth_pairs else 1.0
    prec = hit / len(pred) if pred else 0.0
    if rec < DUP_RECALL_FLOOR:
        return False, f"dup recall {rec:.3f} below floor", rec, prec
    if prec < DUP_PRECISION_FLOOR:
        return False, f"dup precision {prec:.3f} below floor", rec, prec
    return True, "", rec, prec


def self_test() -> list[str]:
    """Plant one fault per check; return the names of checks that did not
    behave (passed the fault or failed the clean input). Empty = all good."""
    bad = []
    rng = np.random.default_rng(0)
    ids = np.arange(500, 1500)
    mat = rng.normal(size=(1000, 8)).astype(np.float32)
    q = rng.normal(size=8).astype(np.float32)
    top, d, kth = true_topk(mat, ids, q, 10)
    far = int(ids[np.argmax(d)])

    if not check_exact_topk(top, ids, d, kth, 10)[0]:
        bad.append("exact_topk:clean")
    if check_exact_topk(list(top[:-1]) + [far], ids, d, kth, 10)[0]:
        bad.append("exact_topk:far-row")
    if check_exact_topk(list(top[:-1]), ids, d, kth, 10)[0]:
        bad.append("exact_topk:short")

    if not check_ann(top, top, 10)[0]:
        bad.append("ann:clean")
    wrong = [int(v) for v in ids if v not in set(top.tolist())][:10]
    if check_ann(wrong, top, 10)[0]:
        bad.append("ann:low-recall")
    if check_ann(list(top[:5]) * 2, top, 10)[0]:
        bad.append("ann:duplicates")

    meta = {
        "row_count": 30, "dim": 8, "n_clusters": 3,
        "file_stats": [{"counts": [[0, 10], [1, 10]]}, {"counts": [[2, 10]]}],
    }
    good = dict(rows=30, dim=8, n_clusters=3, layout_rows=30)
    if not check_sidecar(meta, **good)[0]:
        bad.append("sidecar:clean")
    for fault in (
        {"row_count": 29},
        {"dim": 9},
        {"n_clusters": 4},
        {"file_stats": [{"counts": [[0, 10]]}]},
    ):
        if check_sidecar({**meta, **fault}, **good)[0]:
            bad.append(f"sidecar:{next(iter(fault))}")
    if check_sidecar(meta, **{**good, "layout_rows": 31})[0]:
        bad.append("sidecar:layout_rows")

    planted = [[1, 10, "exact"], [1, 11, "near"], [2, 12, "exact"]]
    truth = planted_pairs(planted)
    clean = [(1, 1), (10, 1), (11, 1), (2, 2), (12, 2)]
    if not score_components(clean, truth)[0]:
        bad.append("dedup:clean")
    merged = [(n, 1) for n, _ in clean] + [(3, 1), (4, 1), (5, 1)]
    if score_components(merged, truth)[0]:
        bad.append("dedup:false-merge")
    if score_components([(2, 2), (12, 2)], truth)[0]:
        bad.append("dedup:missed")
    if score_components([(1, 10), (10, 10), (11, 10)], truth)[0]:
        bad.append("dedup:label")
    return bad
