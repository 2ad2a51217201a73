"""Seeded input generators for the dedup benchmark.

Every input is a pure function of (workload, size, seed) and is cached
on disk under that key, so a re-run with the same seed reuses the
files and pays no generation time. The program under test only ever
sees the written parquet; the planted ground truth stays here.

Two corpus shapes:

- web: `deduplication_spark.corpus.generate_corpus` (Zipf text of
  50-2000 tokens, ~45% planted exact, near, substring and boilerplate
  duplicates).
- short: 72-token docs over a 5e7-symbol space, generated with numpy:
  90% unique, 5% exact copies, 5% one-token near copies (true k=5
  shingle Jaccard 63/73 ~ 0.863). Increment batches reuse the shape:
  60% fresh, 20% exact and 20% near copies of base docs.

Truth is stored per doc as a truth cluster (union of planted pairs;
web adds one group per boilerplate template) plus the planted pairs
with their exact shingle Jaccard.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd

SHINGLE_K = 5
SHORT_TOKENS = 72
SYMBOLS = 50_000_000


def _union_find(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Min-id component label per node 0..n-1 for the edge list (a, b)."""
    parent = np.arange(n)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for x, y in zip(a.tolist(), b.tolist()):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return np.array([find(i) for i in range(n)], dtype=np.int64)


def _shingle_jaccard(x: np.ndarray, y: np.ndarray) -> float:
    k = SHINGLE_K
    sx = {tuple(x[i : i + k]) for i in range(len(x) - k + 1)}
    sy = {tuple(y[i : i + k]) for i in range(len(y) - k + 1)}
    return len(sx & sy) / len(sx | sy)


def _texts(tokens: np.ndarray) -> list[str]:
    return [" ".join(f"w{v}" for v in row) for row in tokens.tolist()]


def _write_docs(path: str, ids: np.ndarray, texts: list[str]) -> None:
    # bounded row groups, so the scan splits into several tasks
    pd.DataFrame({"doc_id": ids.astype(np.int64), "text": texts}).to_parquet(
        path, index=False, row_group_size=4096
    )


def _cached(cache_dir: str, key: str, build) -> dict:
    """Run `build(tmp_dir) -> meta` once per key; meta.json marks a
    complete entry (written last, after an atomic directory rename)."""
    final = os.path.join(cache_dir, key)
    meta_path = os.path.join(final, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        return {**meta, "dir": final, "cached": True}
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    meta = build(tmp)
    meta["gen_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return {**meta, "dir": final, "cached": False}


def _save_truth(out: str, truth_cluster: np.ndarray, pairs: pd.DataFrame) -> None:
    pd.DataFrame(
        {"doc_id": np.arange(len(truth_cluster)), "truth_cluster": truth_cluster}
    ).to_parquet(os.path.join(out, "truth_clusters.parquet"), index=False)
    pairs.to_parquet(os.path.join(out, "truth_pairs.parquet"), index=False)


def web_corpus(cache_dir: str, n_docs: int, seed: int) -> dict:
    def build(out: str) -> dict:
        from deduplication_spark.corpus import generate_corpus

        c = generate_corpus(n_docs, seed=seed, shingle_k=SHINGLE_K)
        docs = c.documents
        _write_docs(
            os.path.join(out, "documents.parquet"),
            docs["doc_id"].to_numpy(),
            docs["text"].tolist(),
        )
        tp = c.truth_pairs
        a = tp["doc_id_a"].to_numpy()
        b = tp["doc_id_b"].to_numpy()
        # boilerplate docs share a 400-token template prefix, so the
        # substring tier rightly links every doc of one template: one
        # truth group per template, keyed on the first 100 tokens
        bp = docs[docs["dup_class"] == "boilerplate"]
        key = bp["text"].map(lambda t: " ".join(t.split(" ", 100)[:100]))
        first = bp.groupby(key)["doc_id"].transform("min").to_numpy()
        ids = bp["doc_id"].to_numpy()
        truth = _union_find(
            n_docs, np.concatenate([a, first]), np.concatenate([b, ids])
        )
        pairs = pd.DataFrame(
            {
                "a": a,
                "b": b,
                "cls": tp["class"].to_numpy(),
                "jaccard": tp["true_jaccard"].to_numpy(dtype=float),
            }
        )
        _save_truth(out, truth, pairs)
        return {"n_docs": n_docs, "mean_chars": float(docs["text"].str.len().mean())}

    return _cached(cache_dir, f"web-n{n_docs}-s{seed}", build)


def _short_tokens(rng, n: int, src_pool: np.ndarray, frac_exact: float,
                  frac_near: float, base_tokens: np.ndarray | None):
    """Token matrix for n docs: fresh rows, then exact copies, then
    one-token near copies of rows drawn from `src_pool` (row indices
    into `base_tokens`, or into this matrix's own fresh rows when
    base_tokens is None). Returns (tokens, src, cls) with src = -1 for
    fresh docs."""
    n_exact = int(n * frac_exact)
    n_near = int(n * frac_near)
    n_fresh = n - n_exact - n_near
    toks = np.empty((n, SHORT_TOKENS), dtype=np.int64)
    toks[:n_fresh] = rng.integers(0, SYMBOLS, size=(n_fresh, SHORT_TOKENS))
    pool = toks if base_tokens is None else base_tokens
    src = np.full(n, -1, dtype=np.int64)
    src[n_fresh:] = src_pool[rng.integers(0, len(src_pool), size=n_exact + n_near)]
    toks[n_fresh : n_fresh + n_exact] = pool[src[n_fresh : n_fresh + n_exact]]
    near = pool[src[n_fresh + n_exact :]].copy()
    # interior position: both edit tails keep full shingle windows
    pos = rng.integers(SHINGLE_K - 1, SHORT_TOKENS - SHINGLE_K, size=n_near)
    near[np.arange(n_near), pos] = rng.integers(SYMBOLS, 2 * SYMBOLS, size=n_near)
    toks[n_fresh + n_exact :] = near
    cls = np.array(["fresh"] * n_fresh + ["exact"] * n_exact + ["near"] * n_near)
    return toks, src, cls


def _short_base(out: str, n_docs: int, rng) -> np.ndarray:
    n_unique = n_docs - 2 * int(n_docs * 0.05)
    toks, src, cls = _short_tokens(
        rng, n_docs, np.arange(n_unique), 0.05, 0.05, None
    )
    _write_docs(
        os.path.join(out, "documents.parquet"), np.arange(n_docs), _texts(toks)
    )
    dup = np.flatnonzero(src >= 0)
    jac = [_shingle_jaccard(toks[src[i]], toks[i]) for i in dup]
    pairs = pd.DataFrame(
        {"a": src[dup], "b": dup, "cls": cls[dup], "jaccard": jac}
    )
    _save_truth(out, _union_find(n_docs, src[dup], dup), pairs)
    return toks


def short_corpus(cache_dir: str, n_docs: int, seed: int) -> dict:
    def build(out: str) -> dict:
        _short_base(out, n_docs, np.random.default_rng([seed, 1]))
        return {"n_docs": n_docs}

    return _cached(cache_dir, f"short-n{n_docs}-s{seed}", build)


def increment_inputs(
    cache_dir: str, n_base: int, n_batches: int, batch_size: int, seed: int
) -> dict:
    """Base corpus (short shape) plus `n_batches` append-only batches
    with ids above every base id. Each batch: 60% fresh docs, 20% exact
    and 20% one-token near copies of base docs that are unique in the
    base, so every planted new doc has exactly one base source."""

    def build(out: str) -> dict:
        rng = np.random.default_rng([seed, 2])
        base_toks = _short_base(out, n_base, rng)
        n_unique = n_base - 2 * int(n_base * 0.05)
        batches = []
        for i in range(n_batches):
            toks, src, cls = _short_tokens(
                rng, batch_size, np.arange(n_unique), 0.2, 0.2, base_toks
            )
            ids = n_base + i * batch_size + np.arange(batch_size)
            path = os.path.join(out, f"batch{i}.parquet")
            _write_docs(path, ids, _texts(toks))
            dup = np.flatnonzero(src >= 0)
            jac = [_shingle_jaccard(base_toks[src[j]], toks[j]) for j in dup]
            pd.DataFrame(
                {"doc_id": ids[dup], "src": src[dup], "cls": cls[dup], "jaccard": jac}
            ).to_parquet(os.path.join(out, f"batch{i}_truth.parquet"), index=False)
            batches.append(f"batch{i}")
        return {"n_base": n_base, "batch_size": batch_size, "batches": batches}

    return _cached(
        cache_dir, f"increment-n{n_base}-b{n_batches}x{batch_size}-s{seed}", build
    )
