"""Seeded inputs for the three workloads, generated and cached by the
benchmark itself (never under the repo's `.data/`).

Every input is a pure function of (workload, seed, size): the same seed
gives byte-identical files. Generation runs in the launching process,
before the measured process starts, so it is never part of a timing.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dedupe_rust_spark import datagen

# The shape of the documents table `datagen.generate` samples from: short
# texts of 10-100 words over a small technical vocabulary, five languages.
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en"] * 41 + ["zh", "es", "fr"] * 15 + ["de"] * 14
LONG_K = 12          # a long document = its base doc + 11 random others
EMB_DIM = 64
EMB_GROUP_NOISE = 0.15
EMB_CLUMP_NOISE = 0.05
EMB_CLUMP_SHARE = 0.03
EMB_THRESHOLD = 0.9
EMB_BITS = 10


def _base_docs(seed: int, n: int) -> list[tuple[int, str, str]]:
    rng = random.Random(seed)
    return [(i, " ".join(rng.choice(VOCAB)
                         for _ in range(rng.randint(10, 100))),
             rng.choice(LANGS))
            for i in range(n)]


def _long_docs(seed: int, n: int) -> list[tuple[int, str, str]]:
    """Each long document concatenates its base doc with LONG_K-1 seeded
    random others from a pool of max(n, 5000) base docs (~650 words)."""
    pool = _base_docs(seed, max(n, 5000))
    rng = random.Random(seed + 1)
    out = []
    for i in range(n):
        parts = [pool[i][1]] + [rng.choice(pool)[1] for _ in range(LONG_K - 1)]
        out.append((i, " ".join(parts), pool[i][2]))
    return out


def _write_docs(rows: list[tuple[int, str, str]], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(sf_dir, "documents.parquet"))


def _pages(cache: str, docs: list[tuple[int, str, str]], n_pages: int,
           seed: int, constant_family: bool) -> None:
    """Materialize datagen pages + labeled_pairs from `docs`."""
    sf_dir = os.path.join(cache, "docs")
    _write_docs(docs, sf_dir)
    datagen.materialize(sf_dir, os.path.join(cache, "pages"), n_rows=n_pages,
                        seed=seed, constant_family=constant_family)


def _embeddings(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float32 vectors): one dense clump (EMB_CLUMP_SHARE of rows,
    noise 0.05), planted near-dup groups of 2-4 (noise 0.15) covering ~20%
    of rows, the rest independent random vectors."""
    rng = np.random.default_rng(seed)
    vecs = []
    clump_n = max(3, int(EMB_CLUMP_SHARE * n))
    center = rng.standard_normal(EMB_DIM)
    vecs.append(center + EMB_CLUMP_NOISE * rng.standard_normal(
        (clump_n, EMB_DIM)))
    grouped = 0
    while grouped < 0.2 * n:
        m = int(rng.integers(2, 5))
        center = rng.standard_normal(EMB_DIM)
        vecs.append(center + EMB_GROUP_NOISE * rng.standard_normal(
            (m, EMB_DIM)))
        grouped += m
    rest = n - clump_n - grouped
    vecs.append(rng.standard_normal((max(rest, 0), EMB_DIM)))
    x = np.concatenate(vecs)[:n].astype(np.float32)
    perm = rng.permutation(n)  # clump and groups spread over the id range
    ids = np.arange(n, dtype=np.int64)
    return ids, x[perm]


def spark_round4(x: float) -> float:
    """Spark's round(x, 4) on a double: HALF_UP on the shortest decimal
    repr (BigDecimal.valueOf), not numpy's round-half-even on binary."""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(float(x))).quantize(Decimal("0.0001"),
                                                  rounding=ROUND_HALF_UP))


def brute_force_pairs(x: np.ndarray, threshold: float) -> np.ndarray:
    """Exact cosine self-join: every (i, j), i < j, whose cosine, rounded
    as Spark rounds it, is >= threshold. Blocked float64 matmul finds
    candidates with a margin; survivors are re-scored with the left fold
    over dimensions that `operators.ann` uses, so boundary pairs round
    identically."""
    a = x.astype(np.float64)
    norms = np.sqrt((a * a).sum(axis=1))
    out = []
    step = 1024
    for lo in range(0, len(a), step):
        blk = a[lo:lo + step] @ a.T / np.outer(norms[lo:lo + step], norms)
        i, j = np.nonzero(blk >= threshold - 1e-3)
        i = i + lo
        keep = i < j
        out.append(np.stack([i[keep], j[keep]], axis=1))
    cand = np.concatenate(out) if out else np.zeros((0, 2), np.int64)
    A, B = a[cand[:, 0]], a[cand[:, 1]]
    dot, na, nb = np.zeros(len(cand)), np.zeros(len(cand)), np.zeros(len(cand))
    for d in range(a.shape[1]):
        dot += A[:, d] * B[:, d]
        na += A[:, d] * A[:, d]
        nb += B[:, d] * B[:, d]
    cos = dot / (np.sqrt(na) * np.sqrt(nb))
    keep = np.array([spark_round4(c) >= threshold for c in cos], dtype=bool)
    return cand[keep].astype(np.int64)


def prepare(workload: str, seed: int, size: int, cache_root: str) -> dict:
    """Generate (or reuse) the inputs of one workload and return paths."""
    cache = os.path.join(cache_root, f"{workload}-s{seed}-n{size}")
    stamp = os.path.join(cache, ".complete")
    if workload == "emb_neardup":
        paths = {"vectors": os.path.join(cache, "vectors.parquet"),
                 "truth": os.path.join(cache, "truth_pairs.npy")}
    else:
        paths = {"pages_dir": os.path.join(cache, "pages")}
    if os.path.exists(stamp):
        return paths
    shutil.rmtree(cache, ignore_errors=True)
    os.makedirs(cache)
    if workload == "crawl_dense":
        # a base doc per ~4 pages: each doc is revisited ~2.7 times, so
        # near-dup families span visits and grow with the page count
        _pages(cache, _base_docs(seed, max(size // 4, 50)), size, seed,
               constant_family=False)
    elif workload == "crawl_long_resume":
        _pages(cache, _long_docs(seed, max(size // 4, 50)), size, seed,
               constant_family=True)
    else:
        ids, x = _embeddings(seed, size)
        tbl = pa.table({"vec_id": pa.array(ids),
                        "embedding": pa.array(list(x),
                                              type=pa.list_(pa.float32()))})
        pq.write_table(tbl, paths["vectors"])
        np.save(paths["truth"], brute_force_pairs(x, EMB_THRESHOLD))
    with open(stamp, "w") as f:
        f.write("ok")
    return paths
