"""Pairwise similarity scorers: Levenshtein ratio and exact shingle Jaccard.

Reference analog: the deep verification tier (`hash_image` equality,
/root/reference/src/main.rs:593-624) — the reference only ever tests
*equality*; these scorers are the fuzzy generalization required by the
north rule. They are exactly what the match decision reads
(is_match := lev_sim >= LEV_MATCH OR jaccard >= JACCARD_MATCH, below;
applied in operators/scoring.py): the scorer UDF runs lev_sim_batch on
every slow-path pair and jaccard_batch only to refine a MinHash estimate
inside the refine band.
numpy-vectorized inner loops (no per-char Python in the DP), batched over
candidate pairs from an Arrow pandas UDF.
"""

from __future__ import annotations

import numpy as np

from .sigcore import shingle_set

# The match decision, fitted once to F1 >= 0.99 on datagen labeled pairs
# (test_f1_on_labeled_pairs) and the same at every scale. These are the
# only copy: scoring.py decides with them, the scorer UDF refines with
# them, and the pipeline's checkpoint fingerprint folds them in.
LEV_MATCH = 0.85
JACCARD_MATCH = 0.50
# MinHash-estimate refine band around JACCARD_MATCH (k=128 => sigma ~0.044
# at j=0.5; +-0.20 is ~4.5 sigma): estimates inside it are replaced by the
# exact shingle Jaccard; outside it the estimate cannot flip the decision,
# so the re-shingling is skipped — the reference's cheap->expensive cascade
# applied to the scorer itself. An estimate at or above JACC_REFINE_HI is a
# decided match without any text (scoring.score_estimated's fast path), so
# the band is derived from the threshold: it always straddles it.
JACC_REFINE_BAND = 0.20
JACC_REFINE_LO = JACCARD_MATCH - JACC_REFINE_BAND
JACC_REFINE_HI = JACCARD_MATCH + JACC_REFINE_BAND

# Texts longer than this score Levenshtein at token level (words) instead of
# char level: the DP is O(len_a) numpy row-ops, so cap the row count.
LEV_CHAR_CAP = 256


def _lev_dp(a_codes: np.ndarray, b_codes: np.ndarray) -> int:
    """Levenshtein distance with numpy-vectorized rows (O(la) row ops)."""
    la, lb = len(a_codes), len(b_codes)
    if la == 0:
        return lb
    if lb == 0:
        return la
    prev = np.arange(lb + 1, dtype=np.int64)
    cur = np.empty(lb + 1, dtype=np.int64)
    ramp = np.arange(lb + 1, dtype=np.int64)
    for i in range(la):
        cur[0] = i + 1
        sub = prev[:-1] + (b_codes != a_codes[i])
        np.minimum(sub, prev[1:] + 1, out=cur[1:])
        # insertions propagate left-to-right: min over j'<=j of cur[j']+(j-j')
        # == ramp + cummin(cur - ramp); includes cur[0] as a source.
        cur -= ramp
        np.minimum.accumulate(cur, out=cur)
        cur += ramp
        prev, cur = cur, prev
    return int(prev[lb])


def _codes(s: str) -> np.ndarray:
    return np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)


def _token_codes(s: str) -> np.ndarray:
    """Map whitespace tokens to stable int codes (per-call interning)."""
    toks = s.split()
    table: dict[str, int] = {}
    return np.fromiter(
        (table.setdefault(t, len(table)) for t in toks), dtype=np.uint32,
        count=len(toks),
    )


def levenshtein(a: str, b: str) -> int:
    """Exact char-level Levenshtein distance."""
    return _lev_dp(_codes(a), _codes(b))


def lev_sim(a: str, b: str) -> float:
    """Normalized Levenshtein similarity in [0,1]; token-level beyond
    LEV_CHAR_CAP chars (documented engine semantics, not an approximation
    toggle — long web texts compare by word edits)."""
    if a == b:
        return 1.0
    if max(len(a), len(b)) <= LEV_CHAR_CAP:
        ca, cb = _codes(a), _codes(b)
    else:
        ca, cb = _token_codes(a), _token_codes(b)
    denom = max(len(ca), len(cb))
    if denom == 0:
        return 1.0
    return 1.0 - _lev_dp(ca, cb) / denom


def jaccard_shingles(a: str, b: str) -> float:
    """Exact Jaccard over word-3-shingle sets."""
    sa, sb = shingle_set(a), shingle_set(b)
    if not sa and not sb:
        return 1.0
    if not sa or not sb:
        return 0.0
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


# ---------------------------------------------------------------------------
# Batched scorers: vectorized ACROSS pairs (one numpy op services the whole
# Arrow batch) — the hot path for candidate scoring at scale. Semantics are
# identical to the per-pair functions above; tests assert elementwise
# agreement.
# ---------------------------------------------------------------------------

_PAD = np.uint32(0xFFFFFFFF)


def _pad_codes(codes: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    n = len(codes)
    lens = np.fromiter((len(c) for c in codes), dtype=np.int64, count=n)
    width = max(int(lens.max()), 1) if n else 1
    mat = np.full((n, width), _PAD, dtype=np.uint32)
    for i, c in enumerate(codes):
        mat[i, : len(c)] = c
    return mat, lens


def lev_sim_batch(texts_a: list[str], texts_b: list[str]) -> np.ndarray:
    """Batched lev_sim: same char/token-level switch as lev_sim()."""
    n = len(texts_a)
    out = np.zeros(n)
    codes_a: list[np.ndarray] = []
    codes_b: list[np.ndarray] = []
    idx: list[int] = []
    for i, (a, b) in enumerate(zip(texts_a, texts_b)):
        if a == b:
            out[i] = 1.0
            continue
        if max(len(a), len(b)) <= LEV_CHAR_CAP:
            ca, cb = _codes(a), _codes(b)
        else:
            ca, cb = _token_codes(a), _token_codes(b)
        if max(len(ca), len(cb)) == 0:
            out[i] = 1.0
            continue
        codes_a.append(ca)
        codes_b.append(cb)
        idx.append(i)
    if not idx:
        return out
    # sort by |a| so fixed-size chunks waste little padding
    order = sorted(range(len(idx)), key=lambda k: len(codes_a[k]))
    for s in range(0, len(order), 512):
        chunk = order[s : s + 512]
        A, la = _pad_codes([codes_a[k] for k in chunk])
        B, lb = _pad_codes([codes_b[k] for k in chunk])
        dist = _lev_dp_batch(A, la, B, lb)
        denom = np.maximum(la, lb)
        for j, k in enumerate(chunk):
            out[idx[k]] = 1.0 - dist[j] / denom[j]
    return out


def _lev_dp_batch(A: np.ndarray, la: np.ndarray, B: np.ndarray,
                  lb: np.ndarray) -> np.ndarray:
    """Row-synchronous DP over all pairs at once; rows beyond a pair's own
    length are masked out, padded B columns never reach the readout cell."""
    m, wb = A.shape[0], B.shape[1]
    ramp = np.arange(wb + 1, dtype=np.int32)
    prev = np.tile(ramp, (m, 1))
    cur = np.empty_like(prev)
    for i in range(A.shape[1]):
        active = la > i
        if not active.any():
            break
        cur[:, 0] = i + 1
        sub = prev[:, :-1] + (B != A[:, i : i + 1])
        np.minimum(sub, prev[:, 1:] + 1, out=cur[:, 1:])
        cur -= ramp
        np.minimum.accumulate(cur, axis=1, out=cur)
        cur += ramp
        np.copyto(prev, cur, where=active[:, None])
    return prev[np.arange(m), lb]


def jaccard_batch(texts_a: list[str], texts_b: list[str]) -> np.ndarray:
    return np.fromiter(
        (jaccard_shingles(a, b) for a, b in zip(texts_a, texts_b)),
        dtype=np.float64, count=len(texts_a),
    )
