"""Deterministic signature cores: shingles, SimHash-64, MinHash-k, LSH bands.

Generalizes the reference's two-tier signature cascade:
  * cheap 3,000-byte prefix checksum  (/root/reference/src/main.rs:520-572)
  * deep full-content hash            (/root/reference/src/main.rs:593-603)
into web-text signatures. All hashing goes through blake2b (stdlib,
process/seed independent) — never Python's builtin hash() (PYTHONHASHSEED).

numpy-vectorized per document; called from Arrow pandas UDFs in batches.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

SIG_VERSION = "2"  # v2: band keys are a vectorized splitmix-style fold of
                   # the band's 4 MinHash rows (v1 used blake2b per band);
                   # minhash/simhash VALUES are unchanged from v1

SHINGLE_N = 3          # word 3-grams, SURVEY.md §2 H1 mapping
MINHASH_K = 128        # signature length
LSH_BANDS = 32         # 32 bands x 4 rows: catches jaccard >= ~0.7 w.h.p.
                       # (empirical under the mixing family — see minhash());
                       # 24x5 / 16x8 were swept and lost boundary recall
                       # (BENCH/BASELINE.md "Band-scheme sweep")
LSH_ROWS = MINHASH_K // LSH_BANDS

_MERSENNE = (1 << 61) - 1
_TOKEN_RE = re.compile(r"\w+", re.UNICODE)

# Fixed random permutation parameters (seed pinned => deterministic).
_rng = np.random.RandomState(42)
_PERM_A = _rng.randint(1, _MERSENNE, size=MINHASH_K, dtype=np.uint64)
_PERM_B = _rng.randint(0, _MERSENNE, size=MINHASH_K, dtype=np.uint64)
_EMPTY_SENTINEL = np.uint64(_MERSENNE)


def tokenize(text: str) -> list[str]:
    return _TOKEN_RE.findall(text.lower())


def hash64(s: str) -> int:
    """Stable 64-bit hash of a string (blake2b, 8-byte digest)."""
    return int.from_bytes(
        hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "little"
    )


def shingle_set(text: str, n: int = SHINGLE_N) -> set[str]:
    toks = tokenize(text)
    if len(toks) < n:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def shingle_hashes(text: str, n: int = SHINGLE_N) -> np.ndarray:
    """uint64 array of distinct shingle hashes (sorted for determinism)."""
    hs = {hash64(s) for s in shingle_set(text, n)}
    return np.fromiter(sorted(hs), dtype=np.uint64, count=len(hs))


def simhash64(text: str) -> int:
    """64-bit SimHash over word-3-shingles; near-dup texts differ in few bits."""
    hs = shingle_hashes(text)
    if hs.size == 0:
        return 0
    bits = np.unpackbits(hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    votes = bits.sum(axis=0, dtype=np.int64) * 2 - hs.size  # +1 set, -1 clear
    out = np.packbits((votes > 0).astype(np.uint8), bitorder="little")
    return int(out.view(np.uint64)[0])


def minhash(text: str, k: int = MINHASH_K) -> np.ndarray:
    """k-length uint64 MinHash signature.

    Hash family note: `_PERM_A * hs` wraps mod 2^64 BEFORE the `% _MERSENNE`
    fold, so each map is `((a*h mod 2^64) + b) mod (2^61-1)` — an ad-hoc
    deterministic mixing family, NOT the exact Carter-Wegman (a*h+b) mod p
    universal hash. It is seed-pinned and process-independent; the empirical
    collision behavior backs the LSH banding (tests/test_cores.py asserts
    the Jaccard-estimate accuracy, and BENCH/BASELINE.md's F1 table holds
    across scales). Exact 128-bit modular arithmetic would cost a split
    multiply per element for no measured recall gain."""
    hs = shingle_hashes(text)
    if hs.size == 0:
        return np.full(k, _EMPTY_SENTINEL, dtype=np.uint64)
    perm = (_PERM_A[:k, None] * hs[None, :] + _PERM_B[:k, None]) % _MERSENNE
    return perm.min(axis=1)


# splitmix64-style constants for the band-key fold / avalanche
_MIX_C1 = np.uint64(0x9E3779B97F4A7C15)
_MIX_C2 = np.uint64(0xBF58476D1CE4E5B9)
_MIX_C3 = np.uint64(0x94D049BB133111EB)


def _avalanche(h: np.ndarray) -> np.ndarray:
    h = h.copy()
    h ^= h >> np.uint64(30)
    h *= _MIX_C2
    h ^= h >> np.uint64(27)
    h *= _MIX_C3
    h ^= h >> np.uint64(31)
    return h


def band_keys_batch(sigs: np.ndarray) -> np.ndarray:
    """LSH band bucket keys for a BATCH of signatures: (n, MINHASH_K)
    uint64 -> (n, LSH_BANDS) uint64, one stable 64-bit key per band.

    Two docs share a band key iff their signatures agree on all rows of
    that band -> candidate pair (SURVEY.md §2 B1 generalization). The key
    is a splitmix-style multiply-xor fold of the band's rows salted by the
    band index (so different bands never collide) — pure vectorized uint64
    arithmetic across the whole batch, no per-doc hashing calls."""
    n = len(sigs)
    chunks = sigs.reshape(n, LSH_BANDS, LSH_ROWS)
    band_salt = _avalanche(
        np.arange(LSH_BANDS, dtype=np.uint64) * _MIX_C1 + np.uint64(1)
    )  # (LSH_BANDS,)
    h = np.broadcast_to(band_salt, (n, LSH_BANDS)).copy()
    for r in range(LSH_ROWS):
        h ^= chunks[:, :, r]
        h *= _MIX_C2
        h ^= h >> np.uint64(32)
    return _avalanche(h)


def band_keys(sig: np.ndarray) -> list[int]:
    """Single-signature convenience wrapper over band_keys_batch."""
    return [int(v) for v in band_keys_batch(sig[None, :])[0]]


# ---------------------------------------------------------------------------
# Batched signature core: one numpy pass over ALL docs of an Arrow batch.
# Shingle hashes are computed ONCE per doc and shared by MinHash + SimHash
# (the per-doc API recomputes them per signature); MinHash permutes the
# concatenated hash stream in shingle-budgeted chunks and segment-reduces
# with np.minimum.reduceat; SimHash votes via np.add.reduceat over unpacked
# bits. Values are IDENTICAL to the per-doc functions (tests assert it).
# ---------------------------------------------------------------------------

# per-chunk shingle budget: the (k, chunk) permutation matrix must stay
# cache-resident (128 * 1024 * 8B = 1 MB; swept 2^8..2^17 — large chunks
# are memory-bandwidth-bound and 4-5x slower, small ones pay loop overhead)
_CHUNK_SHINGLES = 1 << 10


def signatures_batch(texts: list[str | None]
                     ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """-> (valid mask (n,), simhash (n,) uint64, minhash (n, MINHASH_K)
    uint64, band_keys (n, LSH_BANDS) uint64); rows where mask is False
    carry simhash 0 / sentinel minhash and should be emitted as null."""
    n = len(texts)
    mask = np.zeros(n, dtype=bool)
    per_doc: list[np.ndarray | None] = [None] * n
    for i, t in enumerate(texts):
        if isinstance(t, str):
            mask[i] = True
            per_doc[i] = shingle_hashes(t)
    lens = np.array([0 if h is None else len(h) for h in per_doc],
                    dtype=np.int64)

    minh = np.full((n, MINHASH_K), _EMPTY_SENTINEL, dtype=np.uint64)
    simh = np.zeros(n, dtype=np.uint64)
    nonempty = np.where(lens > 0)[0]
    # chunk docs so the permutation matrix stays within the memory budget
    start = 0
    while start < len(nonempty):
        end = start
        total = 0
        while end < len(nonempty) and (
            total == 0 or total + lens[nonempty[end]] <= _CHUNK_SHINGLES
        ):
            total += lens[nonempty[end]]
            end += 1
        idx = nonempty[start:end]
        H = np.concatenate([per_doc[i] for i in idx])
        seg = np.zeros(len(idx), dtype=np.int64)
        np.cumsum(lens[idx][:-1], out=seg[1:])
        # MinHash: (k, total) permuted matrix, segment-min per doc
        perm = (_PERM_A[:, None] * H[None, :] + _PERM_B[:, None]) % _MERSENNE
        minh[idx] = np.minimum.reduceat(perm, seg, axis=1).T
        # SimHash: per-bit votes, segment-sum per doc
        bits = np.unpackbits(
            H.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        ).astype(np.int64)
        sums = np.add.reduceat(bits, seg, axis=0)          # (docs, 64)
        votes = sums * 2 - lens[idx][:, None]
        simh[idx] = np.packbits(
            (votes > 0).astype(np.uint8), axis=1, bitorder="little"
        ).view(np.uint64)[:, 0]
        start = end

    bkeys = band_keys_batch(minh)
    return mask, simh, minh, bkeys


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def minhash_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """Unbiased Jaccard estimate from two equal-k MinHash signatures."""
    if len(sig_a) == 0 or len(sig_a) != len(sig_b):
        return 0.0
    return float(np.mean(sig_a == sig_b))


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()
