"""Operator-level Spark tests: ANN, multimodal plumbing, text ops."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedupe_rust_spark.operators import ann, multimodal, textops


def _last_query_metric(spark, name: str) -> float:
    """Sum of one SQL metric (a byte size or a count) over every node of
    the session's latest SQL execution (readable with the UI off)."""
    units = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30}
    # metrics reach the store through the listener bus, after the action
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    ex = execs.apply(execs.length() - 1).executionId()
    values = store.executionMetrics(ex)
    nodes = store.planGraph(ex).allNodes()
    total = 0.0
    for i in range(nodes.length()):
        metrics = nodes.apply(i).metrics()
        for j in range(metrics.length()):
            m = metrics.apply(j)
            v = values.get(m.accumulatorId())
            if m.name() == name and v.isDefined():
                num, *unit = v.get().split("\n")[-1].split(" (")[0].split()
                total += float(num.replace(",", "")) * units[unit[0] if unit
                                                             else "B"]
    return total


def _python_bytes_sent_by_last_query(spark) -> float:
    return _last_query_metric(spark, "data sent to Python workers")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


class TestANN:
    def test_bruteforce_topk_matches_numpy(self, spark, emb):
        local = emb.toPandas()
        mat = np.array([np.asarray(v, dtype=np.float64) for v in local["embedding"]])
        ids = local["vec_id"].to_numpy()
        norms = np.linalg.norm(mat, axis=1)
        probe_ids = ids[:3]
        got = (
            ann.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)
            .toPandas().sort_values(["probe_id", "rank"])
        )
        for pid in probe_ids:
            pv = mat[ids == pid][0]
            cos = mat @ pv / (norms * np.linalg.norm(pv))
            cos[ids == pid] = -np.inf
            order = np.argsort(np.round(cos, 6) - ids * 1e-12)[::-1][:5]
            expect = [int(ids[j]) for j in order]
            have = got[got.probe_id == pid]["neighbor_id"].tolist()
            assert have == expect, (pid, have, expect)

    def test_lsh_recall_reasonable(self, spark, emb):
        exact = ann.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
        approx = ann.lsh_cosine_topk(emb, emb.filter(F.col("vec_id") < 10),
                                     k=5, bits=4, n_tables=8)
        e = {(r.probe_id, r.neighbor_id) for r in exact.collect()}
        a = {(r.probe_id, r.neighbor_id) for r in approx.collect()}
        recall = len(e & a) / len(e)
        # 8 tables x 4-bit SRP: candidate prob ~0.75 for near neighbors
        assert recall >= 0.5, recall

    def test_ivf_exhaustive_probe_equals_bruteforce(self, spark, emb):
        """n_probe = n_cells scans every inverted list — IVF must return
        the exact brute-force top-k (partition completeness)."""
        cents = ann.ivf_train(emb, n_cells=8, iters=2)
        probes = emb.filter(F.col("vec_id") < 5)
        exact = ann.cosine_topk(emb, probes, k=5)
        full = ann.ivf_cosine_topk(emb, probes, cents, k=5, n_probe=8)
        e = [(r.probe_id, r.neighbor_id, r.cosine, r.rank)
             for r in exact.orderBy("probe_id", "rank").collect()]
        f = [(r.probe_id, r.neighbor_id, r.cosine, r.rank)
             for r in full.orderBy("probe_id", "rank").collect()]
        assert e == f

    def test_ivf_partial_probe_recall(self, spark, emb):
        """The 4-of-16-cells operating point keeps useful recall: probed
        cells are the probe's own neighborhoods under the k-means
        quantizer (deterministic corpus + deterministic init => pinned)."""
        cents = ann.ivf_train(emb, n_cells=16, iters=3)
        probes = emb.filter(F.col("vec_id") < 10)
        exact = ann.cosine_topk(emb, probes, k=5)
        approx = ann.ivf_cosine_topk(emb, probes, cents, k=5, n_probe=4)
        e = {(r.probe_id, r.neighbor_id) for r in exact.collect()}
        a = {(r.probe_id, r.neighbor_id) for r in approx.collect()}
        recall = len(e & a) / len(e)
        assert recall >= 0.5, recall

    def test_ivf_sampled_training_exhaustive_equals_bruteforce(self, spark,
                                                               emb):
        """Sampled Lloyd training (train_sample_mod): partition
        completeness is codebook-independent, so exhaustive probing must
        still return the exact brute-force top-k — and the sampled
        codebook differs from the full one (the sample actually took)."""
        cents_s = ann.ivf_train(emb, n_cells=8, iters=2, train_sample_mod=4)
        cents_f = ann.ivf_train(emb, n_cells=8, iters=2)
        assert cents_s != cents_f  # the 1/4 sample really changed training
        probes = emb.filter(F.col("vec_id") < 5)
        exact = ann.cosine_topk(emb, probes, k=5)
        full = ann.ivf_cosine_topk(emb, probes, cents_s, k=5, n_probe=8)
        e = [(r.probe_id, r.neighbor_id, r.cosine, r.rank)
             for r in exact.orderBy("probe_id", "rank").collect()]
        f = [(r.probe_id, r.neighbor_id, r.cosine, r.rank)
             for r in full.orderBy("probe_id", "rank").collect()]
        assert e == f

    def test_ivf_sampled_training_tiny_sample_falls_back(self, spark, emb):
        """A sample smaller than n_cells must fall back to full-corpus
        training (identical codebook) instead of a degenerate one."""
        cents_tiny = ann.ivf_train(emb, n_cells=8, iters=2,
                                   train_sample_mod=1_000_000)
        cents_full = ann.ivf_train(emb, n_cells=8, iters=2)
        assert cents_tiny == cents_full

    def test_suggest_n_cells_sqrt_sizing(self):
        assert ann.suggest_n_cells(0) == 1
        assert ann.suggest_n_cells(256) == 16
        assert ann.suggest_n_cells(10**9) == 31623 or \
            ann.suggest_n_cells(10**9) == 31622
        assert ann.suggest_n_cells(10**12) == 65536  # clamped

    def test_lsh_pairs_match_bruteforce(self, spark, emb):
        """The bucketed scale path recovers the EXACT brute-force pair set
        at its amplification settings (the lsh_emb_dups oracle contract)."""
        got = {(r.vec_id_a, r.vec_id_b)
               for r in ann.lsh_cosine_pairs(emb, threshold=0.35).collect()}
        local = emb.toPandas()
        mat = np.array([np.asarray(v, dtype=np.float64)
                        for v in local["embedding"]])
        ids = local["vec_id"].to_numpy()
        norms = np.linalg.norm(mat, axis=1)
        cos = (mat @ mat.T) / np.outer(norms, norms)
        ia, ib = np.where(np.round(cos, 4) >= 0.35)
        expect = {(int(min(ids[a], ids[b])), int(max(ids[a], ids[b])))
                  for a, b in zip(ia, ib) if ids[a] != ids[b]}
        assert got == expect

    def test_lsh_pairs_plan_one_exchange_no_duplicates(self, spark, emb):
        """Block-local scoring: the band stream is the only hash exchange
        (no pair-keyed shuffle, distinct or pair-to-vector join) and each
        pair is emitted once."""
        out = ann.lsh_cosine_pairs(emb, threshold=0.35)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning(") == 1, plan
        assert "hashpartitioning(vec_id_a" not in plan, plan
        got = out.groupBy("vec_id_a", "vec_id_b").count()
        assert got.filter(F.col("count") > 1).count() == 0

    def test_lsh_pairs_unbroadcast_path_equal(self, spark, emb):
        """A scan with enough splits skips the spread + broadcast attach;
        the pair set must not change."""
        par = spark.sparkContext.defaultParallelism
        small = ann.lsh_cosine_pairs(emb, threshold=0.35)
        split = ann.lsh_cosine_pairs(emb.repartition(2 * par), threshold=0.35)
        assert small.exceptAll(split).count() == 0
        assert split.exceptAll(small).count() == 0

    def test_lsh_pairs_python_input_bound(self, spark, emb):
        """Each vector reaches the Python workers at most min(S, n_tables)
        times (S = 2 x par score shards for this one-file corpus), not once
        per table: what the query sends to Python is bounded by the banding
        input, that many copies of each (id, vector) row and each
        (table, bucket) entry once, with 25% slack for Arrow framing."""
        n_tables, dim = 64, 64
        n = emb.count()
        copies = min(2 * spark.sparkContext.defaultParallelism, n_tables)
        row = dim * 4 + 3 * 8   # float32 vector, id, shard, list offsets
        bound = 1.25 * ((1 + copies) * n * row + n * n_tables * 12)
        ann.lsh_cosine_pairs(emb, threshold=0.35, n_tables=n_tables,
                             dim=dim).collect()
        sent = _python_bytes_sent_by_last_query(spark)
        assert 0 < sent <= bound, (sent, bound)

    def test_lsh_pairs_band_exchange_row_bound(self, spark, emb):
        """Banding is map-side: each vector crosses the one shuffle as at
        most min(S, n_tables) narrow (shard, id, code_sig) rows, one per
        score shard its blocks hash to, with no spread of the input and no
        row per (table, bucket)."""
        n_tables = 64
        n = emb.count()
        shards = 2 * spark.sparkContext.defaultParallelism
        ann.lsh_cosine_pairs(emb, threshold=0.35, n_tables=n_tables).collect()
        written = _last_query_metric(spark, "shuffle records written")
        assert 0 < written <= n * min(shards, n_tables), (written, n)

    def test_lsh_pairs_degenerate_buckets_any_split(self, spark, tmp_path):
        """bits=1, n_tables=2 cuts ~5k random vectors into four ~2.5k-member
        blocks. The pairs equal a numpy brute force over the pairs that
        share a bucket in some table, and do not depend on the input's
        split count: 1 split (broadcast attach, 2 x par shards), 2 x par
        and 7 x par splits (vectors ride the banded rows, that many
        shards)."""
        import pandas as pd

        rng = np.random.RandomState(11)
        n, dim, thr = 5000, 64, 0.35
        V = rng.standard_normal((n, dim)).astype(np.float32)
        ids = np.arange(n, dtype=np.int64) * 3 + 1
        pd.DataFrame({"vec_id": ids, "embedding": list(V)}).to_parquet(
            tmp_path / "vecs.parquet")
        df = spark.read.parquet(str(tmp_path / "vecs.parquet"))

        M = V.astype(np.float64)
        codes = ann._srp_codes(M, ann._srp_planes(1, 2, dim, 42).T, 1)
        assert np.bincount(codes[:, 0]).min() > 2000
        norms = np.linalg.norm(M, axis=1)
        cos = (M @ M.T) / np.outer(norms, norms)
        hit = (codes[:, None, :] == codes[None, :, :]).any(axis=2)
        ia, ib = np.nonzero(np.triu((np.round(cos, 4) >= thr) & hit, 1))
        expect = set(zip(ids[ia].tolist(), ids[ib].tolist()))
        assert len(expect) > 1000

        par = spark.sparkContext.defaultParallelism
        outs = []
        key = "spark.sql.autoBroadcastJoinThreshold"
        saved = spark.conf.get(key)
        spark.conf.set(key, "-1")   # only the explicit hint may broadcast
        try:
            for parts in (1, 2 * par, 7 * par):
                got = ann.lsh_cosine_pairs(df.repartition(parts),
                                           threshold=thr, bits=1,
                                           n_tables=2, dim=dim)
                plan = got._jdf.queryExecution().executedPlan().toString()
                if parts == 1:
                    assert "BroadcastHashJoin" in plan, plan
                else:   # the banded rows carry their vectors: no join
                    assert "Join" not in plan, plan
                    assert plan.count("Exchange hashpartitioning(") == 1, plan
                outs.append(sorted(got.collect()))
        finally:
            spark.conf.set(key, saved)
        assert {(r.vec_id_a, r.vec_id_b) for r in outs[0]} == expect
        assert outs[0] == outs[1] == outs[2]

    def test_srp_and_ivf_udfs_match_numpy(self, spark, emb):
        """The Arrow bucket/cell UDFs equal a pure-numpy reference, and a
        null embedding maps to a null id list."""
        local = emb.toPandas()
        mat = np.array([np.asarray(v, dtype=np.float64)
                        for v in local["embedding"]])
        row = {int(v): i for i, v in enumerate(local["vec_id"])}
        planes = np.random.RandomState(42).standard_normal((8 * 4, 64))
        signs = (mat @ planes.T > 0).reshape(len(mat), 8, 4)
        codes = (signs * (1 << np.arange(4))).sum(axis=2)
        blocks = ann.srp_band_blocks(emb, bits=4, n_tables=8).toPandas()
        assert len(blocks) == 8 * len(mat)
        for r in blocks.itertuples():
            assert codes[row[r.vec_id], r.table] == r.bucket

        cents = ann.ivf_train(emb, n_cells=8, iters=2)
        C = np.asarray(cents)
        d = (C * C).sum(axis=1)[None, :] - 2.0 * (mat @ C.T)
        nearest = np.argsort(d, axis=1, kind="stable")[:, :3]
        with_null = emb.select("vec_id", "embedding").unionByName(
            spark.createDataFrame([(-1, None)],
                                  "vec_id long, embedding array<float>"))
        cells = with_null.select(
            "vec_id", ann._ivf_cells_udf(cents, 3)("embedding").alias("c"),
            ann._srp_buckets_udf(planes, 4)("embedding").alias("b"),
        ).toPandas()
        for r in cells.itertuples():
            if r.vec_id == -1:
                assert r.c is None and r.b is None
            else:
                assert list(r.c) == nearest[row[r.vec_id]].tolist()
                assert list(r.b) == codes[row[r.vec_id]].tolist()


class TestMultimodal:
    PNG = bytes.fromhex("89504e470d0a1a0a0000000d49484452"
                        "00000003" "00000002") + b"payload"
    GIF = b"GIF89a" + (7).to_bytes(2, "little") + (9).to_bytes(2, "little") + b"x"

    # WebP fixtures: hand-built 30-byte headers per the reference's reader
    # (/root/reference/src/dimensions.rs:135-178)
    WEBP_VP8 = (b"RIFF\x00\x00\x00\x00WEBPVP8 " + b"\x00\x00\x00\x00"
                + bytes([0x2A])            # header[20] == 0x2A
                + b"\x00\x00\x00\x00\x00"  # bytes 21-25
                + (640).to_bytes(2, "little") + (480).to_bytes(2, "little"))
    WEBP_VP8L = (b"RIFF\x00\x00\x00\x00WEBPVP8L" + b"\x00\x00\x00\x00"
                 + bytes([0x2F])
                 # 14-bit fields: (w-1)=99, (h-1)=49 packed little-endian
                 + bytes([99 & 0xFF, (99 >> 8) | ((49 & 0x03) << 6),
                          (49 >> 2) & 0xFF, 0, 0]) + b"\x00" * 4)
    WEBP_VP8X = (b"RIFF\x00\x00\x00\x00WEBPVP8X" + b"\x0a\x00\x00\x00"
                 + b"\x00\x00\x00\x00"
                 + (11).to_bytes(3, "little") + (7).to_bytes(3, "little"))
    # minimal ISOBMFF: ftyp(heic) + meta carrying an ispe box (size=20)
    HEIC = ((24).to_bytes(4, "big") + b"ftypheic" + b"\x00\x00\x00\x00"
            + b"mif1heic"
            + (20).to_bytes(4, "big") + b"ispe" + b"\x00\x00\x00\x00"
            + (1920).to_bytes(4, "big") + (1080).to_bytes(4, "big"))

    def test_sniff_dimensions(self):
        assert multimodal.sniff_dimensions(self.PNG) == ("png", 3, 2)
        assert multimodal.sniff_dimensions(self.GIF) == ("gif", 7, 9)
        assert multimodal.sniff_dimensions(b"garbage123") == (None, None, None)
        assert multimodal.sniff_dimensions(None) == (None, None, None)

    def test_sniff_webp_variants(self):
        assert multimodal.sniff_dimensions(self.WEBP_VP8) == ("webp", 640, 480)
        assert multimodal.sniff_dimensions(self.WEBP_VP8L) == ("webp", 100, 50)
        assert multimodal.sniff_dimensions(self.WEBP_VP8X) == ("webp", 12, 8)
        # bad VP8L signature byte -> parse failure, reference semantics
        bad = bytearray(self.WEBP_VP8L)
        bad[20] = 0x00
        assert multimodal.sniff_dimensions(bytes(bad)) == (None, None, None)

    def test_sniff_heic_ispe(self):
        assert multimodal.sniff_dimensions(self.HEIC) == ("heic", 1920, 1080)
        # ftyp with non-heif brand is not claimed
        not_heic = self.HEIC.replace(b"ftypheic", b"ftypmp42")
        assert multimodal.sniff_dimensions(not_heic) == (None, None, None)
        # heic brand but no ispe box -> silent drop
        assert multimodal.sniff_dimensions(
            self.HEIC[:24]) == (None, None, None)

    def test_decode_stub_raises_without_fake(self):
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(self.PNG)

    def test_image_features_plumbing(self, spark):
        rows = [("a", self.PNG), ("b", self.GIF), ("c", b"junk")]
        df = spark.createDataFrame(rows, "url string, content binary")
        out = multimodal.image_features(df).toPandas().set_index("content_id")
        assert out.loc["a", "fmt"] == "png" and out.loc["a", "width"] == 3
        assert out.loc["b", "fmt"] == "gif" and out.loc["b", "height"] == 9
        assert out.loc["c", "fmt"] is None and out.loc["c", "feature"] is None
        # deterministic fake features
        f1 = multimodal.image_features(df).toPandas().set_index("content_id")
        assert list(out.loc["a", "feature"]) == list(f1.loc["a", "feature"])

    def test_image_features_webp_heic_through_spark(self, spark):
        """WebP/HEIC header sniffing works through the mapInPandas path."""
        rows = [("w", self.WEBP_VP8X), ("h", self.HEIC)]
        df = spark.createDataFrame(rows, "url string, content binary")
        out = multimodal.image_features(df).toPandas().set_index("content_id")
        assert out.loc["w", "fmt"] == "webp"
        assert (out.loc["w", "width"], out.loc["w", "height"]) == (12, 8)
        assert out.loc["h", "fmt"] == "heic"
        assert (out.loc["h", "width"], out.loc["h", "height"]) == (1920, 1080)
        assert out.loc["h", "n_bytes"] == len(self.HEIC)


class TestTextOps:
    def test_quality_columns(self, spark):
        good = ("the quick brown fox jumps over the lazy dog and runs to the "
                "house with a friend for fun in the park on a warm day")
        df = spark.createDataFrame(
            [("g", good), ("bad", "@#$ %^&")], "id string, text string")
        out = textops.quality_columns(df).toPandas().set_index("id")
        assert bool(out.loc["g", "quality_keep"])
        assert not bool(out.loc["bad", "quality_keep"])

    def test_language_id_udf(self, spark):
        df = spark.createDataFrame(
            [("e", "the cat and the dog ran to the house in that city"),
             ("d", "der Hund und die Katze ist nicht in den Haus")],
            "id string, text string")
        out = textops.language_id(df).toPandas().set_index("id")
        assert out.loc["e", "lang_detected"] == "en"
        assert out.loc["d", "lang_detected"] == "de"

    def test_token_counts(self, spark):
        df = spark.createDataFrame([("x", "hello, world 123")],
                                   "id string, text string")
        out = textops.token_counts(df).toPandas()
        assert out["n_tokens_ws"][0] == 3
        assert out["n_tokens_bpe"][0] == 4

    def test_fingerprint_stable(self, spark):
        df = spark.createDataFrame([("x", "y" * 500)], "id string, text string")
        a = textops.fingerprints(df).toPandas()["fingerprint"][0]
        b = textops.fingerprints(df).toPandas()["fingerprint"][0]
        from dedupe_rust_spark.functions.textstats import fingerprint
        assert a == b == fingerprint("y" * 500)

    def test_fingerprint_builtin_matches_python_twin(self, spark):
        """The all-builtin Spark fingerprint (min md5 over 64-char blocks,
        step 32) must agree elementwise with textstats.fingerprint across
        the block-boundary edge cases: empty-ish, < window, == window,
        window+1, non-multiple-of-step lengths, multi-line real-ish text."""
        from dedupe_rust_spark.functions.textstats import fingerprint

        texts = [
            "a", "short text", "x" * 63, "x" * 64, "x" * 65,
            "x" * 96, "x" * 97, "x" * 128, "x" * 129,
            ("the quick brown fox jumps over the lazy dog. " * 9)[:401],
            "line one\nline two\nline three " * 7,
        ]
        rows = [(str(i), t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "id string, text string")
        got = textops.fingerprints(df).toPandas().set_index("id")["fingerprint"]
        for i, t in enumerate(texts):
            assert got[str(i)] == fingerprint(t), (i, len(t))


def test_simhash_band_pairs_pigeonhole_exact(spark):
    """4x16-bit chunk blocking must find EXACTLY the pairs within the
    hamming radius it guarantees (<=3): compare against a brute-force
    O(n^2) hamming computation on constructed 64-bit values, including
    adversarial pairs at hamming 3 spread across 3 different chunks and
    just-miss pairs at hamming 4 across all 4 chunks."""
    from itertools import combinations

    from dedupe_rust_spark.plans.queries import (
        SIMHASH_DUP_HAMMING, _simhash_band_pairs,
    )

    base = 0x0123_4567_89AB_CDEF
    vals = {
        "u00": base,
        "u01": base ^ 0x1,                      # hamming 1 (chunk 0)
        "u02": base ^ (1 << 16) ^ (1 << 32) ^ (1 << 48),  # h3, 3 chunks
        "u03": base ^ 0x3,                      # hamming 2
        "u04": base ^ (1 << 0) ^ (1 << 16) ^ (1 << 32) ^ (1 << 48),  # h4
        "u05": 0x7FFF_FFFF_FFFF_FFFF,           # far away
        "u06": base,                            # identical (hamming 0)
    }
    sig = spark.createDataFrame(
        [(u, v - (1 << 64) if v >= (1 << 63) else v)
         for u, v in vals.items()], "url string, simhash long")
    got = {(r.url_a, r.url_b, r.hamming)
           for r in _simhash_band_pairs(sig, SIMHASH_DUP_HAMMING).collect()}
    expect = set()
    for (ua, va), (ub, vb) in combinations(sorted(vals.items()), 2):
        h = bin(va ^ vb).count("1")
        if h <= SIMHASH_DUP_HAMMING:
            expect.add((ua, ub, h))
    assert got == expect
    # sanity: the fixture exercises both sides of the radius
    assert ("u00", "u02", 3) in expect and ("u00", "u06", 0) in expect
    assert not any(a == "u00" and b == "u04" for a, b, _ in got)
