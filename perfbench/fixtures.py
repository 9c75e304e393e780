"""Seeded benchmark inputs, cached under the benchmark's work directory.

Every input is drawn from the run's ``--seed``. A cached fixture is keyed on
every generation parameter and is reused only after its manifest (parameters,
row count, SHA-256 of the Parquet bytes) has been checked against the file; a
mismatch regenerates it. Index layouts are never cached: each run builds its
own from the source table.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator's algorithm changes, so old caches miss
GEN_VERSION = 1


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _cached(cache_dir: str, kind: str, params: dict, make) -> tuple[str, dict]:
    """Return ``(parquet_path, manifest)`` for the fixture ``kind(params)``.

    ``make(path)`` writes the Parquet file and returns the manifest's extra
    fields: ``rows`` plus anything the caller needs back (planted pairs)."""
    key = hashlib.sha256(
        json.dumps({"kind": kind, "v": GEN_VERSION, **params}, sort_keys=True).encode()
    ).hexdigest()[:16]
    d = os.path.join(cache_dir, f"{kind}-{key}")
    path = os.path.join(d, "data.parquet")
    man_path = os.path.join(d, "manifest.json")
    if os.path.exists(man_path) and os.path.exists(path):
        with open(man_path) as f:
            man = json.load(f)
        md = pq.read_metadata(path)
        if (
            man.get("params") == params
            and md.num_rows == man["rows"]
            and _sha256(path) == man["sha256"]
        ):
            os.utime(d)  # most recently used, for the cache pruning
            return path, man
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    extra = make(path)
    man = {"kind": kind, "params": params, "sha256": _sha256(path), **extra}
    if pq.read_metadata(path).num_rows != man["rows"]:
        raise RuntimeError(f"fixture {kind} wrote the wrong row count")
    with open(man_path + ".tmp", "w") as f:
        json.dump(man, f)
    os.replace(man_path + ".tmp", man_path)
    return path, man


def _stream(seed: int, tag: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, tag]))


def _centers(seed: int, n_centers: int, dim: int) -> np.ndarray:
    return _stream(seed, 0).normal(size=(n_centers, dim)).astype(np.float32)


def _write_vectors(path: str, ids: np.ndarray, mat: np.ndarray) -> None:
    dim = mat.shape[1]
    tbl = pa.table(
        {
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(mat.reshape(-1), type=pa.float32()), dim
            ).cast(pa.list_(pa.float32())),
        }
    )
    pq.write_table(tbl, path)


def embeddings(
    cache_dir: str,
    seed: int,
    rows: int,
    dim: int,
    *,
    n_centers: int = 1024,
    noise: float = 0.15,
    batch: int = 0,
    start_id: int = 0,
) -> tuple[str, dict]:
    """Mixture-of-Gaussians vectors, the same model as the repo's scale
    generator: ``n_centers`` latent N(0, 1) centers drawn from the seed, each
    row a random center plus N(0, noise) noise. ``batch`` > 0 draws fresh rows
    from the same centers (the append scenario); ids start at ``start_id``."""
    params = dict(
        seed=seed, rows=rows, dim=dim, n_centers=n_centers, noise=noise,
        batch=batch, start_id=start_id,
    )

    def make(path):
        centers = _centers(seed, n_centers, dim)
        rng = _stream(seed, 1 + batch)
        which = rng.integers(0, n_centers, size=rows)
        pts = centers[which] + rng.normal(scale=noise, size=(rows, dim)).astype(np.float32)
        _write_vectors(path, np.arange(start_id, start_id + rows), pts)
        return {"rows": rows, "dim": dim}

    return _cached(cache_dir, "emb", params, make)


def read_vectors(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float32 matrix) of a vector fixture, read back from the file the
    engine reads, so the numpy ground truth sees exactly the same values."""
    tbl = pq.read_table(path)
    ids = tbl.column("vec_id").to_numpy()
    emb = tbl.column("embedding").combine_chunks()
    dim = len(emb[0])
    mat = emb.values.to_numpy(zero_copy_only=False).reshape(-1, dim)
    return ids, np.ascontiguousarray(mat, dtype=np.float32)


def queries(seed: int, mat: np.ndarray, n: int, noise: float = 0.05) -> np.ndarray:
    """``n`` distinct query vectors: a random table row plus small noise."""
    rng = _stream(seed, 1000)
    rows = rng.choice(mat.shape[0], size=n, replace=False)
    q = mat[rows] + rng.normal(scale=noise, size=(n, mat.shape[1])).astype(np.float32)
    return q.astype(np.float32)


def documents(
    cache_dir: str,
    seed: int,
    n_docs: int,
    *,
    vocab_size: int = 5_000,
    unique_frac: float = 0.85,
    substitutions: int = 3,
) -> tuple[str, dict]:
    """Synthetic corpus with planted duplicates, the model of the repo's dedup
    scale generator: ``unique_frac`` base docs of 40-120 words, the rest split
    evenly into exact copies and near copies (``substitutions`` random word
    substitutions) of a random base doc. The manifest records every planted
    (base_id, copy_id, kind) triple."""
    params = dict(
        seed=seed, n_docs=n_docs, vocab_size=vocab_size,
        unique_frac=unique_frac, substitutions=substitutions,
    )

    def make(path):
        rng = _stream(seed, 2000)
        vocab = np.array([f"w{i:04d}" for i in range(vocab_size)])
        n_base = int(n_docs * unique_frac)
        texts = [
            " ".join(vocab[rng.integers(0, vocab_size, int(rng.integers(40, 121)))])
            for _ in range(n_base)
        ]
        planted = []
        src = rng.integers(0, n_base, n_docs - n_base)
        for i, b in enumerate(src):
            words = texts[int(b)].split(" ")
            near = i % 2 == 1
            if near:
                for pos in rng.integers(0, len(words), substitutions):
                    words[int(pos)] = str(vocab[int(rng.integers(0, vocab_size))])
            planted.append([int(b), n_base + i, "near" if near else "exact"])
            texts.append(" ".join(words))
        tbl = pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), type=pa.int64()),
                "text": pa.array(texts, type=pa.string()),
            }
        )
        pq.write_table(tbl, path, row_group_size=max(1, n_docs // 8))
        return {"rows": n_docs, "planted": planted}

    return _cached(cache_dir, "docs", params, make)
