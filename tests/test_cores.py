"""Unit tests for the pure-Python cores (no SparkSession) — SURVEY.md §5.2.1."""

from __future__ import annotations

import random

import numpy as np
import pytest

from dedupe_rust_spark.functions import ccore, scorecore, sigcore, textcore, textstats


# ---------------------------------------------------------------- extraction
class TestExtract:
    def test_roundtrip(self):
        html = textcore.render_html("A Title", ["para one & two", "café <tag>"])
        assert textcore.extract_text(html) == "A Title\n\npara one & two\n\ncafé <tag>"

    def test_deterministic_twice(self):
        html = textcore.render_html("t", ["x" * 50, "y z"])
        assert textcore.extract_text(html) == textcore.extract_text(html)

    def test_null_empty_garbage(self):
        assert textcore.extract_text(None) is None
        assert textcore.extract_text(b"") is None
        assert textcore.extract_text(b"\xff\xfe\x00garbage no marker") is None

    def test_script_style_stripped(self):
        html = (b"<html><head><title>T</title><style>p{}</style></head>"
                b"<body><script>var x=1;</script><p>keep</p></body></html>")
        assert textcore.extract_text(html) == "T\n\nkeep"

    def test_entities_and_nested_tags(self):
        html = b"<html><body><p>a &amp; <b>b</b></p></body></html>"
        assert textcore.extract_text(html) == "a & b"

    def test_cp1252_fallback(self):
        # 0x93/0x94 are curly quotes in cp1252, invalid utf-8 continuation
        html = b"<html><body><p>\x93quoted\x94</p></body></html>"
        assert textcore.extract_text(html) == "“quoted”"

    def test_empty_body(self):
        assert textcore.extract_text(b"<html><body></body></html>") is None


# ---------------------------------------------------------------- signatures
class TestSignatures:
    def test_simhash_identical(self):
        t = "the quick brown fox jumps over the lazy dog again and again"
        assert sigcore.simhash64(t) == sigcore.simhash64(t)

    def test_simhash_near_dup_close(self):
        words = [f"w{i}" for i in range(200)]
        a = " ".join(words)
        b_words = list(words)
        b_words[50] = "CHANGED"
        b = " ".join(b_words)
        c = " ".join(f"z{i}" for i in range(200))
        d_ab = sigcore.hamming64(sigcore.simhash64(a), sigcore.simhash64(b))
        d_ac = sigcore.hamming64(sigcore.simhash64(a), sigcore.simhash64(c))
        assert d_ab < 12 < d_ac

    def test_minhash_jaccard_estimate(self):
        words = [f"w{i}" for i in range(300)]
        a = " ".join(words)
        b = " ".join(words[:270] + [f"q{i}" for i in range(30)])
        true_j = scorecore.jaccard_shingles(a, b)
        est = sigcore.minhash_jaccard(sigcore.minhash(a), sigcore.minhash(b))
        assert abs(est - true_j) < 0.15

    def test_band_keys_shared_for_near_dups(self):
        words = [f"w{i}" for i in range(300)]
        a = " ".join(words)
        b = " ".join(words[:295] + ["x"] * 5)
        ka = set(sigcore.band_keys(sigcore.minhash(a)))
        kb = set(sigcore.band_keys(sigcore.minhash(b)))
        assert ka & kb, "near-dup should share >=1 LSH band"
        c = " ".join(f"z{i}" for i in range(300))
        kc = set(sigcore.band_keys(sigcore.minhash(c)))
        assert not (ka & kc), "unrelated docs should share no band"

    def test_signatures_batch_matches_per_doc(self):
        """The vectorized batch path must agree value-for-value with the
        per-doc functions (minhash, simhash, band keys)."""
        rng = random.Random(7)
        vocab = [f"w{i}" for i in range(400)]
        texts = [" ".join(rng.choice(vocab)
                          for _ in range(rng.randint(0, 80)))
                 for _ in range(60)]
        texts += ["", None, "single", "a b c d e f g h"]
        mask, simh, minh, bkeys = sigcore.signatures_batch(texts)
        for i, t in enumerate(texts):
            if t is None:
                assert not mask[i]
                continue
            assert mask[i]
            assert int(simh[i]) == sigcore.simhash64(t), (i, t[:30])
            assert np.array_equal(minh[i], sigcore.minhash(t)), (i, t[:30])
            assert [int(v) for v in bkeys[i]] == sigcore.band_keys(
                sigcore.minhash(t)), (i, t[:30])

    def test_stable_vectors(self):
        # pinned to SIG_VERSION=1; if these change, bump the version
        assert sigcore.hash64("abc") == sigcore.hash64("abc")
        sig = sigcore.minhash("one two three four five six")
        assert sig.dtype == np.uint64 and len(sig) == 128
        assert sigcore.simhash64("") == 0


# ------------------------------------------------------------------- scoring
class TestScoring:
    def test_levenshtein_exact(self):
        assert scorecore.levenshtein("kitten", "sitting") == 3
        assert scorecore.levenshtein("", "abc") == 3
        assert scorecore.levenshtein("abc", "abc") == 0
        assert scorecore.levenshtein("flaw", "lawn") == 2

    def test_levenshtein_vs_bruteforce_random(self):
        rng = random.Random(42)

        def brute(a: str, b: str) -> int:
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
            return dp[len(b)]

        for _ in range(50):
            a = "".join(rng.choice("abcd") for _ in range(rng.randint(0, 12)))
            b = "".join(rng.choice("abcd") for _ in range(rng.randint(0, 12)))
            assert scorecore.levenshtein(a, b) == brute(a, b), (a, b)

    def test_lev_sim_bounds(self):
        assert scorecore.lev_sim("abc", "abc") == 1.0
        assert 0.0 <= scorecore.lev_sim("abc", "xyz") <= 1.0
        long_a = " ".join(f"w{i}" for i in range(100))
        long_b = " ".join(f"w{i}" for i in range(99)) + " DIFFERENT"
        assert scorecore.lev_sim(long_a, long_b) > 0.9

    def test_jaccard(self):
        assert scorecore.jaccard_shingles("a b c d", "a b c d") == 1.0
        assert scorecore.jaccard_shingles("a b c", "x y z") == 0.0


# ------------------------------------------------------------------ textstats
class TestTextStats:
    def test_langid(self):
        assert textstats.detect_lang("the cat and the dog ran to the house in that city") == "en"
        assert textstats.detect_lang("der Hund und die Katze ist nicht in den Haus") == "de"
        assert textstats.detect_lang("qqq www eee") == "zz"

    def test_token_counts(self):
        assert textstats.token_count_ws("a b  c") == 3
        assert textstats.token_count_bpe("hello, world 123") == 4  # hello , world 123

    def test_quality_monotone_on_garbage(self):
        good = ("the quick brown fox jumps over the lazy dog and runs to the house "
                "with a friend for fun in the park that day it was nice and warm")
        assert textstats.quality_score(good) > textstats.quality_score("@#$ %^& *()")
        assert textstats.quality_score("") == 0.0

    def test_fingerprint_stable(self):
        t = "x" * 500
        assert textstats.fingerprint(t) == textstats.fingerprint(t)
        assert textstats.fingerprint("short") == textstats.fingerprint("short")


# ------------------------------------------------------------------------ cc
class TestUnionFind:
    def test_chain(self):
        cc = ccore.connected_components([("b", "c"), ("a", "b")])
        assert cc == {"a": "a", "b": "a", "c": "a"}

    def test_disjoint_pairs(self):
        cc = ccore.connected_components([("a", "b"), ("x", "y")])
        assert cc["a"] == cc["b"] == "a" and cc["x"] == cc["y"] == "x"

    def test_star(self):
        cc = ccore.connected_components([("m", "a"), ("m", "z"), ("m", "k")])
        assert set(cc.values()) == {"a"}

    def test_random_graph_vs_bruteforce(self):
        rng = random.Random(7)
        nodes = [f"n{i:03d}" for i in range(200)]
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
        got = ccore.connected_components(edges)
        # brute force: repeated label relaxation
        label = {n: n for n in nodes}
        changed = True
        while changed:
            changed = False
            for a, b in edges:
                m = min(label[a], label[b])
                if label[a] != m or label[b] != m:
                    label[a] = label[b] = m
                    changed = True
        for a, b in edges:
            assert got[a] == got[b] == label[a] == label[b]


# ------------------------------------------------------- batch == per-pair
class TestBatchScorers:
    def _pairs(self):
        rng = random.Random(5)
        vocab = [f"w{i}" for i in range(300)]
        out = []
        for _ in range(150):
            n = rng.randint(0, 100)
            a = [rng.choice(vocab) for _ in range(n)]
            b = list(a)
            for _ in range(rng.randint(0, max(1, n // 3))):
                if b:
                    b[rng.randrange(len(b))] = rng.choice(vocab)
            out.append((" ".join(a), " ".join(b)))
        out += [("martha", "marhta"), ("DWAYNE", "DUANE"), ("", ""),
                ("", "x"), ("abc", "abc"), ("kitten", "sitting"),
                ("a" * 300, "a" * 299 + "b")]
        return out

    def test_batch_matches_per_pair(self):
        pairs = self._pairs()
        ta = [p[0] for p in pairs]
        tb = [p[1] for p in pairs]
        blev = scorecore.lev_sim_batch(ta, tb)
        bjac = scorecore.jaccard_batch(ta, tb)
        for i, (a, b) in enumerate(pairs):
            lev = scorecore.lev_sim(a, b)
            jac = scorecore.jaccard_shingles(a, b)
            assert abs(lev - blev[i]) < 1e-9, (i, a[:30], b[:30])
            assert abs(jac - bjac[i]) < 1e-9, (i, a[:30], b[:30])

    def test_minhash_low16_estimate_matches_full(self):
        """The low-16 truncation shipped to Spark must give (nearly) the
        same Jaccard estimate as the full 61-bit signatures: collisions
        inflate a row's agreement with probability 1/65536, so at most a
        couple of rows per signature may differ."""
        import numpy as np

        pairs = [p for p in self._pairs() if p[0] and p[1]][:40]
        for a, b in pairs:
            sa, sb = sigcore.minhash(a), sigcore.minhash(b)
            full = sigcore.minhash_jaccard(sa, sb)
            ta = sa.astype(np.uint16).astype(np.int16)
            tb = sb.astype(np.uint16).astype(np.int16)
            trunc = float(np.mean(ta == tb))
            assert 0 <= trunc - full <= 2 / 128, (a[:30], b[:30])


# ------------------------------------------------------- SRP block kernel
def _spark_round4(x: float) -> float:
    """Spark's round(double, 4): HALF_UP on the shortest decimal repr."""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(float(x))).quantize(Decimal("0.0001"),
                                                  rounding=ROUND_HALF_UP))


def _fold_cosine(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Per-pair left fold over dimensions (the F.aggregate order)."""
    dot, na, nb = np.zeros(len(A)), np.zeros(len(A)), np.zeros(len(A))
    for d in range(A.shape[1]):
        dot += A[:, d] * B[:, d]
        na += A[:, d] * A[:, d]
        nb += B[:, d] * B[:, d]
    return dot / (np.sqrt(na) * np.sqrt(nb))


class TestBlockKernel:
    """ann._score_blocks against a brute-force cosine join, no Spark."""

    BITS, TABLES, DIM, THR = 4, 4, 32, 0.9

    def _vectors(self) -> np.ndarray:
        rng = np.random.RandomState(7)
        b, d = self.BITS, self.DIM
        # table 0's planes are the first BITS axes (see _planes): positive
        # leading coordinates put a vector in table 0's top bucket, so
        # these 20k rows form one degenerate block
        clump = rng.standard_normal((20000, d))
        clump[:, :b] = np.abs(clump[:, :b]) + 0.05
        near = clump[:300] + 0.1 * rng.standard_normal((300, d))
        near[:, :b] = np.abs(near[:, :b])
        # pairs whose cosine straddles the HALF_UP cut at THR - 5e-5:
        # partner = c*u + s*w, w orthogonal to u with zero leading coords
        u = clump[300:340] / np.linalg.norm(clump[300:340], axis=1)[:, None]
        tail = np.where(np.arange(d) < b, 0.0, u)
        w = np.where(np.arange(d) < b, 0.0, rng.standard_normal((40, d)))
        w -= ((w * tail).sum(axis=1)
              / (tail * tail).sum(axis=1))[:, None] * tail
        w /= np.linalg.norm(w, axis=1)[:, None]
        c = self.THR - np.linspace(1e-4, 0.0, 40)[:, None]
        edge = c * u + np.sqrt(1 - c * c) * w
        spread = rng.standard_normal((2000, d))
        return np.concatenate([clump, near, edge, spread]).astype(np.float32)

    def _planes(self) -> np.ndarray:
        rng = np.random.RandomState(3)
        planes = rng.standard_normal((self.TABLES * self.BITS, self.DIM))
        planes[:self.BITS] = np.eye(self.BITS, self.DIM)
        return planes

    def _blocks(self, V, W):
        from dedupe_rust_spark.operators import ann

        codes = ann._srp_codes(V, W, self.BITS)
        members, tables = [], []
        for t in range(self.TABLES):
            for code in np.unique(codes[:, t]):
                rows = np.nonzero(codes[:, t] == code)[0]
                if len(rows) > 1:
                    members.append(rows)
                    tables.append(t)
        offsets = np.concatenate([[0], np.cumsum([len(r) for r in members])])
        return np.concatenate(members), offsets, np.array(tables), codes

    def test_pairs_equal_bruteforce_once_and_tiled(self):
        from dedupe_rust_spark.operators import ann

        X = self._vectors()
        V = X.astype(np.float64)
        ids = np.arange(len(V), dtype=np.int64) * 7 + 3
        W = self._planes().T.copy()
        rows, offsets, tables, codes = self._blocks(V, W)
        stats: dict = {}
        ra, rb, cos = ann._score_blocks(V, codes, rows, offsets, tables,
                                        self.THR, stats=stats)
        a, b = np.minimum(ids[ra], ids[rb]), np.maximum(ids[ra], ids[rb])
        got = list(zip(a.tolist(), b.tolist()))
        assert len(got) == len(set(got))  # each pair once across tables

        # brute force: float64 screen with a margin, left-fold rescore,
        # pairs that collide in at least one table, Spark rounding
        norms = np.sqrt((V * V).sum(axis=1))
        expect = {}
        for lo in range(0, len(V), 512):
            sim = V[lo:lo + 512] @ V.T / np.outer(norms[lo:lo + 512], norms)
            i, j = np.nonzero(sim >= self.THR - 1e-3)
            i = i + lo
            i, j = i[i < j], j[i < j]
            hit = (codes[i] == codes[j]).any(axis=1)
            i, j = i[hit], j[hit]
            for x, y, v in zip(i, j, _fold_cosine(V[i], V[j])):
                if _spark_round4(v) >= self.THR:
                    expect[(int(ids[x]), int(ids[y]))] = v
        have = {p: v for p, v in zip(got, cos.tolist())
                if _spark_round4(v) >= self.THR}
        assert have == expect  # values bit-equal to the per-pair fold
        edge = {p: v for p, v in expect.items() if v < self.THR}
        assert edge, "no pair rounds up to the threshold"
        lost = [v for v in cos.tolist() if self.THR - 1e-4 <= v < self.THR
                and _spark_round4(v) < self.THR]
        assert lost, "no pair just below the rounding cut"
        m = int(np.diff(offsets).max())
        assert m >= 20000
        assert stats["max_tile"] <= ann._TILE * m

    def test_zero_vectors_keep_nan_pair(self):
        """Two zero vectors have a NaN cosine, which Spark orders above any
        threshold: the screen keeps the pair, emitted once."""
        from dedupe_rust_spark.operators import ann

        V = np.zeros((2, self.DIM))
        W = self._planes().T.copy()
        rows, offsets, tables, codes = self._blocks(V, W)
        ra, rb, cos = ann._score_blocks(V, codes, rows, offsets, tables,
                                        self.THR)
        a, b = np.minimum(ra, rb), np.maximum(ra, rb)
        assert list(zip(a.tolist(), b.tolist())) == [(0, 1)]
        assert np.isnan(cos[0])

    def test_shard_kernel_checks_code_sig(self):
        """The shard kernel recomputes its rows' SRP codes and fails loudly
        when one row's code_sig disagrees; with matching sigs and a single
        shard it emits exactly _score_blocks' pairs."""
        import pyarrow as pa

        from dedupe_rust_spark.operators import ann

        # clump rows 0..249 and their near copies, 20000..20249
        V = self._vectors()[np.r_[0:250, 20000:20250]]
        planes = self._planes()
        W = planes.T.copy()
        ids = np.arange(len(V), dtype=np.int64) * 7 + 3
        sig = ann._code_sig(ann._srp_codes(V.astype(np.float64), W,
                                           self.BITS))
        kernel = ann._shard_kernel(planes, self.BITS, 1, self.THR,
                                   "vec_id", "embedding")

        def shard(code_sig):
            return pa.table({
                "shard": np.zeros(len(V), np.int32), "vec_id": ids,
                "code_sig": code_sig,
                "embedding": pa.array(list(V), pa.list_(pa.float32()))})

        out = kernel(shard(sig))
        V64 = V.astype(np.float64)
        rows, offsets, tables, codes = self._blocks(V64, W)
        ra, rb, _ = ann._score_blocks(V64, codes, rows, offsets, tables,
                                      self.THR)
        a, b = np.minimum(ids[ra], ids[rb]), np.maximum(ids[ra], ids[rb])
        assert len(a) > 0
        assert sorted(zip(out.column("vec_id_a").to_pylist(),
                          out.column("vec_id_b").to_pylist())) \
            == sorted(zip(a.tolist(), b.tolist()))
        bad = sig.copy()
        bad[17] ^= 1
        with pytest.raises(RuntimeError, match="code_sig"):
            kernel(shard(bad))
