"""End-to-end Spark pipeline tests (SURVEY.md §5.2: oracle, golden,
property, parity). Session-scoped SparkSession, tiny (sf0.001) pages."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedupe_rust_spark.functions.ccore import connected_components as uf_cc
from dedupe_rust_spark.functions.textcore import extract_text
from dedupe_rust_spark.operators import blocking, candidates as cand, cluster, scoring
from dedupe_rust_spark.operators.signatures import extract, signatures
from dedupe_rust_spark.plans.pipeline import DedupPipeline
from dedupe_rust_spark.sources.pages import clean_pages, read_labeled_pairs, read_pages


@pytest.fixture(scope="module")
def clusters(spark, tiny_pages_dir):
    pipe = DedupPipeline(spark, tiny_pages_dir)
    return pipe.run().cache()


@pytest.fixture(scope="module")
def sig(spark, tiny_pages_dir):
    pages = clean_pages(read_pages(spark, tiny_pages_dir))
    return signatures(extract(pages)).cache()


# ------------------------------------------------------------------ parity
def test_extraction_parity_byte_identical(spark, tiny_pages_dir):
    """UDF-extracted text equals the golden `text` column byte-for-byte
    (the BASELINE.json per-row invariant)."""
    pages = read_pages(spark, tiny_pages_dir)
    got = extract(pages.drop("text")).select("url", "text")
    golden = pages.select("url", F.col("text").alias("golden"))
    diff = got.join(golden, "url").filter(
        ~F.col("text").eqNullSafe(F.col("golden"))
    )
    assert diff.count() == 0


def test_signatures_extract_each_page_once(spark, tiny_pages_dir):
    """The pipeline's signatures(extract(pages)) plan runs the extraction
    UDF in one place: the `text IS NOT NULL` filter and signatures_udf
    both read its output instead of re-running it."""
    sig_df = signatures(extract(clean_pages(read_pages(spark,
                                                       tiny_pages_dir))))
    plan = sig_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("extract_text_udf(") == 1, plan
    assert "signatures_udf(text" in plan, plan


def test_extraction_parity_python_vs_spark(spark, tiny_pages_dir):
    """Driver-side pure-Python extraction agrees with the Spark UDF."""
    pages = read_pages(spark, tiny_pages_dir).limit(200).toPandas()
    for r in pages.itertuples():
        raw = None if r.html is None else bytes(r.html)
        expect = None if (not isinstance(r.text, str)) else r.text
        assert extract_text(raw) == expect


def _exact_url_edges(sig):
    """The production exact tier (blocking.exact_group_map) as url star
    edges root -> member: the rows whose url is not the root's."""
    roots = sig.select(F.col("id").alias("root_id"), F.col("url").alias("src"))
    return (
        blocking.exact_group_map(sig)
        .join(roots, "root_id")
        .filter(F.col("url") != F.col("src"))
        .select("src", F.col("url").alias("dst"))
    )


# ---------------------------------------------------------------- oracle
def test_exact_clusters_match_bruteforce(spark, sig):
    """Equality-grouping == full O(n^2) pairwise equality (the transitivity
    property the reference relies on, main.rs:616-624)."""
    local = sig.select("url", "text_sha256").toPandas()
    by_hash: dict[str, list[str]] = {}
    for r in local.itertuples():
        by_hash.setdefault(r.text_sha256, []).append(r.url)
    expect_groups = sorted(
        tuple(sorted(v)) for v in by_hash.values() if len(v) > 1
    )
    got = (
        _exact_url_edges(sig)
        .groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("members"))
        .toPandas()
    )
    got_groups = sorted(
        tuple(sorted([r.src] + list(r.members))) for r in got.itertuples()
    )
    assert got_groups == expect_groups


def test_f1_on_labeled_pairs(spark, tiny_pages_dir, clusters):
    """The headline gate: pairwise F1 >= 0.99 (BASELINE.md)."""
    pairs = read_labeled_pairs(spark, tiny_pages_dir)
    pred = (
        pairs
        .join(clusters.withColumnsRenamed({"url": "url_a", "cluster_id": "ca"}),
              "url_a", "left")
        .join(clusters.withColumnsRenamed({"url": "url_b", "cluster_id": "cb"}),
              "url_b", "left")
        .withColumn("pred", F.coalesce(
            F.col("ca").isNotNull() & (F.col("ca") == F.col("cb")), F.lit(False)))
    )
    tp = pred.filter("is_dup and pred").count()
    fp = pred.filter("not is_dup and pred").count()
    fn = pred.filter("is_dup and not pred").count()
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, (precision, recall, f1)
    # exact tier must be perfect (F1-floor guard, SURVEY.md §7e)
    assert pred.filter("tier = 'exact' and is_dup and not pred").count() == 0


# -------------------------------------------------------------- properties
def test_partition_invariance(spark, sig):
    """Same clusters under different partitioning (FIXTURES.md §5.2.4)."""
    edges = _exact_url_edges(sig)
    c2 = cluster.connected_components(edges.repartition(2))
    c32 = cluster.connected_components(edges.repartition(32))
    assert c2.exceptAll(c32).count() == 0 and c32.exceptAll(c2).count() == 0


def test_cross_host_exact_copies_cluster(spark, sig, clusters):
    """Exact copies on different hosts still cluster (host NOT in the
    block key for the exact tier)."""
    multi = (
        sig.groupBy("text_sha256")
        .agg(F.countDistinct("host").alias("nh"), F.collect_list("url").alias("urls"))
        .filter((F.col("nh") > 1))
        .limit(5)
        .toPandas()
    )
    assert len(multi) > 0, "generator should produce cross-host exact copies"
    cl = {r.url: r.cluster_id for r in clusters.toPandas().itertuples()}
    for row in multi.itertuples():
        ids = {cl.get(u) for u in row.urls}
        assert len(ids) == 1 and None not in ids, row.urls


def test_adversarial_same_title_not_clustered(spark, tiny_pages_dir, clusters):
    pairs = read_labeled_pairs(spark, tiny_pages_dir)
    adv = pairs.filter("tier = 'negative'")
    joined = (
        adv.join(clusters.withColumnsRenamed({"url": "url_a", "cluster_id": "ca"}),
                 "url_a", "left")
        .join(clusters.withColumnsRenamed({"url": "url_b", "cluster_id": "cb"}),
              "url_b", "left")
        .filter(F.col("ca").isNotNull() & (F.col("ca") == F.col("cb")))
    )
    # <=1% of negatives may collide via transitive closure at the boundary
    assert joined.count() <= max(1, int(0.01 * adv.count()))


def test_score_split_refines_inside_band(spark):
    """An estimate inside the refine band (scorecore.JACC_REFINE_LO..HI)
    is replaced by the exact shingle Jaccard before the decision. Pair:
    28 of 40 words shared — MinHash estimate ~0.47 (below JACCARD_MATCH),
    exact Jaccard 0.52 (above it), lev_sim ~0.78 (below LEV_MATCH), so
    only the refinement makes it a match."""
    from dedupe_rust_spark.functions import scorecore
    from dedupe_rust_spark.operators.signatures import signatures as sig_stage

    words = [f"w{i}" for i in range(200)]
    ta = " ".join(words[:40])
    tb = " ".join(words[:28] + words[100:112])
    rows = [("https://x/a", None, ta.encode(), ta, "en"),
            ("https://x/b", None, tb.encode(), tb, "en")]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string").withColumn(
        "host", F.lit("x"))
    s = sig_stage(pages)
    ids = {r.url: r.id for r in s.select("url", "id").collect()}
    pairs = spark.createDataFrame(
        [(min(ids.values()), max(ids.values()))], "id_a long, id_b long")
    est = scoring.attach_estimates(pairs, s).first().jacc_est
    exact = scorecore.jaccard_shingles(ta, tb)
    assert scorecore.JACC_REFINE_LO <= est < scorecore.JACCARD_MATCH <= exact
    got = scoring.score_candidates(pairs, s).collect()
    assert len(got) == 1
    assert got[0].lev_sim is not None  # slow path: the scorer UDF ran
    assert got[0].lev_sim < scorecore.LEV_MATCH
    assert abs(got[0].jaccard - exact) < 1e-9
    assert got[0].is_match


def test_score_null_estimate_pairs_not_dropped(spark):
    """A pair where one side has no MinHash signature (null estimate) must
    flow through the slow path and keep a scored row — not vanish from the
    output (round-2 advice finding)."""
    ta = "some words repeated here " * 10
    sig_rows = [
        (1, "https://x/a", ta, [1] * 128),
        (2, "https://x/b", ta, None),  # no signature
    ]
    s = spark.createDataFrame(
        sig_rows, "id long, url string, text string, minhash array<smallint>")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = scoring.score_candidates(pairs, s).collect()
    assert len(out) == 1
    r = out[0]
    assert r.is_match  # identical texts: lev_sim = 1.0 decides
    assert r.lev_sim == 1.0


def test_score_split_decisions_match_exact(spark, sig):
    """The estimate-split scorer's is_match must equal the ground-truth
    decision rule (exact lev/jaccard) on real candidate pairs — the fast
    path may only skip work, never flip a decision."""
    from dedupe_rust_spark.functions import scorecore

    pruned, _ = blocking.prune_blocks(
        blocking.all_blocks(blocking.exact_representatives(sig)))
    pairs = cand.candidate_pairs(pruned, keep_block_key=False)
    got = scoring.score_candidates(pairs, sig).toPandas()
    texts = {r.id: r.text for r in sig.select("id", "text").collect()}
    flipped = 0
    for r in got.itertuples():
        ta, tb = texts[r.id_a], texts[r.id_b]
        exact = (scorecore.lev_sim(ta, tb) >= scoring.LEV_MATCH
                 or scorecore.jaccard_shingles(ta, tb) >= scoring.JACCARD_MATCH)
        if bool(r.is_match) != exact:
            flipped += 1
    # estimate noise may flip only pairs whose exact jaccard sits within
    # the estimator tail outside the refine band (~4.5 sigma): allow <=1%
    assert flipped <= max(1, len(got) // 100), (flipped, len(got))


def test_spark_cc_matches_unionfind(spark):
    import random

    rng = random.Random(13)
    nodes = [f"n{i:03d}" for i in range(120)]
    edge_list = sorted({(min(a, b), max(a, b))
                        for a, b in ((rng.choice(nodes), rng.choice(nodes))
                                     for _ in range(100)) if a != b})
    expect = uf_cc(edge_list)
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r.node: r.cluster_id
           for r in cluster.connected_components(edges).collect()}
    assert got == expect


def test_prune_unsalted_pairs_unchanged(spark, sig):
    """For blocks below the cap, prune_blocks must be a pure HAVING>1
    filter: the candidate pair set equals the brute-force per-block pairs
    (salting only rewrites oversized keys)."""
    blocks = blocking.all_blocks(blocking.exact_representatives(sig))
    kept, _ = blocking.prune_blocks(blocks, max_block=10**9)  # nothing salts
    got = {(r.id_a, r.id_b)
           for r in cand.candidate_pairs(kept, keep_block_key=False).collect()}
    local = blocks.toPandas()
    expect = set()
    for _, grp in local.groupby("block_key"):
        ids = sorted(grp["id"])
        if len(ids) > 1:
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    expect.add((ids[i], ids[j]))
    assert got == expect


def test_id_audit_fires_on_collision(spark):
    """The surrogate-key audit must fail fast when one id carries two
    distinct urls, and pass on clean data."""
    from dedupe_rust_spark.plans.pipeline import _audit_ids

    clean = spark.createDataFrame(
        [(1, "https://a/x"), (2, "https://a/y")], "id long, url string")
    _audit_ids(clean)  # no raise
    collided = spark.createDataFrame(
        [(1, "https://a/x"), (1, "https://a/y")], "id long, url string")
    with pytest.raises(RuntimeError, match="collision"):
        _audit_ids(collided)


def test_failed_stage_leaves_no_audit_worker(spark, tiny_pages_dir,
                                             monkeypatch):
    """A stage that raises while the concurrent id audit is in flight must
    not strand the audit pool's worker thread, even while the caller
    still holds the exception (its traceback keeps the pool referenced)."""
    import threading

    from dedupe_rust_spark.plans.pipeline import PipelineConfig

    def boom(*args, **kwargs):
        raise RuntimeError("injected stage failure")

    monkeypatch.setattr(blocking, "all_blocks", boom)
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="injected") as failure:
        DedupPipeline(spark, tiny_pages_dir,
                      config=PipelineConfig(checkpoints=False)).run()
    workers = [t for t in threading.enumerate() if t not in before
               and t.name.startswith("ThreadPoolExecutor")]
    for t in workers:
        t.join(timeout=60)
    assert not [t.name for t in workers if t.is_alive()], failure.value


def test_cc_driver_finish_equals_distributed(spark):
    """The driver-side union-find tail must produce exactly the labels of
    the pure-distributed loop. The random graph needs >1 contraction
    level (hook trees merge through local minima), so the finish path
    actually fires; the long path checks that per-level path compression
    resolves a chain in ONE level (pre-round-4, hooking shortened a
    chain by one edge per level — O(diameter) levels)."""
    import random

    rng = random.Random(13)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges_list = sorted({(min(a, b), max(a, b))
                         for a, b in ((rng.choice(nodes), rng.choice(nodes))
                                      for _ in range(100)) if a != b})
    expect = uf_cc(edges_list)
    edges = spark.createDataFrame(edges_list, "src string, dst string")
    st_e, st_d, st_p = {}, {}, {}
    # entry short-circuit: the whole graph fits the driver budget
    entry = {r.node: r.cluster_id for r in cluster.connected_components(
        edges, stats=st_e, driver_finish_edges=1000).collect()}
    # mid-loop tail: initial graph exceeds the budget, the contracted
    # one does not
    with_finish = {r.node: r.cluster_id for r in cluster.connected_components(
        edges, stats=st_d, driver_finish_edges=len(edges_list) - 1).collect()}
    pure = {r.node: r.cluster_id for r in cluster.connected_components(
        edges, stats=st_p, driver_finish_edges=0).collect()}
    assert entry == with_finish == expect == pure
    assert st_e["driver_finish"] is True and st_e["levels"] == 0
    assert st_e["input_edges"] == len(edges_list)
    assert st_d["driver_finish"] is True and st_d["levels"] >= 1
    assert st_p["driver_finish"] is False
    assert st_p["input_edges"] == len(edges_list)
    # the driver finish must have cut levels vs the pure loop
    assert st_d["levels"] <= st_p["levels"]
    # levels counts DISTRIBUTED contraction levels only; the driver-finish
    # tail shows up in mappings (comparable metric across on/off runs)
    assert st_e["mappings"] == 1
    assert st_d["mappings"] == st_d["levels"] + 1
    assert st_p["mappings"] == st_p["levels"]

    # empty graph: no level of either kind, an empty labels frame, the
    # same stats in both modes
    st_0, st_0p = {}, {}
    assert cluster.connected_components(
        edges.limit(0), stats=st_0, driver_finish_edges=1000).collect() == []
    assert cluster.connected_components(
        edges.limit(0), stats=st_0p, driver_finish_edges=0).collect() == []
    assert st_0 == st_0p == {"input_edges": 0, "driver_finish": False,
                             "levels": 0, "mappings": 0}

    # chain component: one level, no O(diameter) blowup
    path = [(f"p{i:03d}", f"p{i+1:03d}") for i in range(60)]
    st = {}
    got = {r.node: r.cluster_id for r in cluster.connected_components(
        spark.createDataFrame(path, "src string, dst string"),
        stats=st, driver_finish_edges=0).collect()}
    assert got == uf_cc(path)
    assert st["levels"] == 1


def test_propagate_to_members_matches_reference(spark):
    """Exact groups take their root's CC label (or the root itself when
    the root was not fuzzy-matched), the label becomes the min member url,
    and single-member clusters are dropped — checked against a pure-Python
    reference on a hand-built exact map."""
    ex_map = [
        # root 10 has no fuzzy label: its two exact copies still cluster
        ("http://m.example/x", 10), ("http://b.example/x", 10),
        # roots 20 and 30 are merged by one fuzzy label; the min url sits
        # in the group whose root is NOT the label
        ("http://z.example/1", 20), ("http://c.example/1", 20),
        ("http://a.example/1", 30),
        # a unique page with no fuzzy label: a singleton, dropped
        ("http://s.example/1", 40),
    ]
    rep_labels = [(20, 20), (30, 20)]

    def reference():
        label = dict(rep_labels)
        members: dict[int, list[str]] = {}
        for url, root in ex_map:
            members.setdefault(label.get(root, root), []).append(url)
        return {u: min(us) for us in members.values() if len(us) > 1
                for u in us}

    got = {r.url: r.cluster_id for r in cluster.propagate_to_members(
        spark.createDataFrame(rep_labels, "node long, cluster_id long"),
        spark.createDataFrame(ex_map, "url string, root_id long"),
    ).collect()}
    assert got == reference()
    assert got == {"http://m.example/x": "http://b.example/x",
                   "http://b.example/x": "http://b.example/x",
                   "http://z.example/1": "http://a.example/1",
                   "http://c.example/1": "http://a.example/1",
                   "http://a.example/1": "http://a.example/1"}


def test_candidate_pairs_hybrid_star(spark):
    """Hybrid mode: blocks <= K emit full cliques, blocks > K emit exactly
    the dual (min-id, max-id) hub stars; canonical id_a < id_b holds
    everywhere; clique mode is the exhaustive superset."""
    grouped = spark.createDataFrame(
        [(1, [30, 10, 20]),                    # small: clique
         (2, [9, 3, 7, 5, 1])],                # big (K=3): stars around 1, 9
        "block_key long, ids array<long>")
    clique = {(r.id_a, r.id_b) for r in
              cand.candidate_pairs(grouped, keep_block_key=False).collect()}
    hybrid = {(r.id_a, r.id_b) for r in
              cand.candidate_pairs(grouped, keep_block_key=False,
                                   star_min_block=3).collect()}
    assert hybrid == {(10, 20), (10, 30), (20, 30),        # clique block
                      (1, 3), (1, 5), (1, 7), (1, 9),      # min-hub star
                      (3, 9), (5, 9), (7, 9)}              # max-hub star
    assert hybrid < clique
    assert all(a < b for a, b in hybrid)
    # transitive closure over an all-match big block is identical either
    # way: the hub connects every member
    edges = spark.createDataFrame(sorted(hybrid), "src long, dst long")
    labels = {r.node: r.cluster_id
              for r in cluster.connected_components(edges).collect()}
    assert {labels[x] for x in (1, 3, 5, 7, 9)} == {1}


def test_hot_key_presalt_bounds_rows_and_conserves_members(spark):
    """The hot-key guard must (a) split a pathological hot key row-level so
    no grouped row holds the whole block, (b) never drop a member, and
    (c) report the hot key in salt metrics. Cold keys pass through
    untouched (identical grouped output)."""
    hot_n, max_block, hot_bound = 20_000, 64, 2_048
    rows = ([(777, i) for i in range(hot_n)]          # one pathological key
            + [(10, 1), (10, 2), (10, 3), (11, 5), (11, 6)])  # cold keys
    blocks = spark.createDataFrame(rows, "block_key long, id long")
    kept, metrics = blocking.prune_blocks(blocks, max_block=max_block,
                                          hot_bound=hot_bound)
    got = kept.select("ids").collect()
    # (a): the largest grouped row is ~max_block, far below the hot key's
    # 20k members (hash placement is statistical, hence the 4x slack)
    assert max(len(r["ids"]) for r in got) <= 4 * max_block
    # (b): exact member conservation — 20,000 hot + 5 cold. (Sub-blocks
    # average ~max_block members, so the HAVING>1 singleton filter cannot
    # realistically drop any; deterministic hashing makes this stable.)
    assert sum(len(r["ids"]) for r in got) == hot_n + 5
    # (c): the hot key is REPORTED in salt metrics with its estimated size
    assert any(r["block_size"] >= hot_bound for r in metrics.collect())
    # cold keys untouched: both cold blocks present with full member sets
    cold = {tuple(sorted(r["ids"])) for r in got if len(r["ids"]) <= 3}
    assert (1, 2, 3) in cold and (5, 6) in cold


def test_hot_key_presalt_accepts_string_keys(spark):
    """prune_blocks(hot_bound=...) is a generic API: a string-keyed block
    stream (e.g. experimental band keys) must pre-salt without the long
    coercion the pipeline's surrogate keys allow — the broadcast hot-key
    frame reuses the stream's own key type."""
    hot_n, max_block, hot_bound = 8_000, 32, 1_024
    rows = ([("band:hot", i) for i in range(hot_n)]
            + [("band:cold", 1), ("band:cold", 2)])
    blocks = spark.createDataFrame(rows, "block_key string, id long")
    kept, metrics = blocking.prune_blocks(blocks, max_block=max_block,
                                          hot_bound=hot_bound)
    got = kept.select("ids").collect()
    assert max(len(r["ids"]) for r in got) <= 4 * max_block
    assert sum(len(r["ids"]) for r in got) == hot_n + 2
    assert any(r["block_size"] >= hot_bound for r in metrics.collect())


def test_star_mode_clusters_equal_clique(spark, tiny_pages_dir):
    """The shipped default (dual-hub star pruning) must label every url
    exactly as exhaustive-clique mode does on the test corpus: transitive
    closure restores any in-block pair the star pruned (the inv_star_clusters
    oracle contract)."""
    from dedupe_rust_spark.plans.pipeline import PipelineConfig

    star = DedupPipeline(spark, tiny_pages_dir, config=PipelineConfig(
        checkpoints=False)).run()
    clique = DedupPipeline(spark, tiny_pages_dir, config=PipelineConfig(
        checkpoints=False, star_min_block=None)).run()
    assert star.exceptAll(clique).count() == 0
    assert clique.exceptAll(star).count() == 0


def test_blocks_salted_not_silent(spark, sig):
    reps = blocking.exact_representatives(sig)
    blocks = blocking.all_blocks(reps)
    kept, cap_metrics = blocking.prune_blocks(blocks, max_block=2)
    # with a tiny limit, salted blocks MUST be reported
    assert cap_metrics.count() > 0
    # no ids dropped: salting repartitions members, never discards them
    multi_rows = (blocks.groupBy("block_key").count()
                  .filter(F.col("count") > 1)
                  .agg(F.sum("count")).first()[0])
    members = kept.agg(F.sum(F.size("ids"))).first()[0]
    assert members == multi_rows
    # hash salting bounds sub-block size statistically, not exactly; with
    # this seed-fixed corpus the worst sub-block stays near the target
    assert kept.agg(F.max(F.size("ids"))).first()[0] <= 4 * 2


def test_pipeline_reads_block_cap_at_call_time(spark, tiny_pages_dir,
                                              monkeypatch):
    """The block cap is a module constant the pipeline reads when it runs:
    lowering blocking.DEFAULT_MAX_BLOCK salts blocks the default leaves
    whole, and the salted-block census reports them."""
    from dedupe_rust_spark.plans.pipeline import PipelineConfig

    def n_salted():
        pipe = DedupPipeline(spark, tiny_pages_dir, config=PipelineConfig())
        pipe.run()
        return next(m["rows_out"] for m in pipe.stage_metrics
                    if m["stage"] == "blocks_salted")

    assert n_salted() == 0
    monkeypatch.setattr(blocking, "DEFAULT_MAX_BLOCK", 2)
    assert n_salted() > 0


# ------------------------------------------------------------------ resume
def test_resume_skips_completed_stages(spark, tiny_pages_dir, tmp_path):
    out = str(tmp_path / "out")
    p1 = DedupPipeline(spark, tiny_pages_dir, out_dir=out, run_id="R1")
    c1 = p1.run().toPandas().sort_values("url").reset_index(drop=True)
    p2 = DedupPipeline(spark, tiny_pages_dir, out_dir=out, run_id="R1")
    c2 = p2.run().toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(c1, c2)
    # a full rerun resumes signatures and clusters and runs nothing between
    resumed = {m["stage"] for m in p2.stage_metrics if m.get("resumed")}
    assert {"signatures", "clusters"} <= resumed
    ran = {m["stage"] for m in p2.stage_metrics}
    assert not ran & {"candidates", "scores", "cc_loop"}

    # crash in the last stage: without the clusters checkpoint the rerun
    # rebuilds clusters from the resumed candidates and scores
    shutil.rmtree(os.path.join(out, "clusters"))
    p3 = DedupPipeline(spark, tiny_pages_dir, out_dir=out, run_id="R1")
    c3 = p3.run().toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(c1, c3)
    resumed = {m["stage"] for m in p3.stage_metrics if m.get("resumed")}
    assert {"signatures", "candidates", "scores"} <= resumed
    assert "clusters" not in resumed


def test_resume_invalidated_by_config_change(spark, tiny_pages_dir, tmp_path):
    """Same run_id + a different config must NOT reuse stale checkpoints
    (candidates bake in the pair-generation mode): the config fingerprint
    keys the path."""
    from dedupe_rust_spark.plans.pipeline import PipelineConfig

    out = str(tmp_path / "out")
    p1 = DedupPipeline(spark, tiny_pages_dir, out_dir=out, run_id="RC")
    p1.run()
    p2 = DedupPipeline(spark, tiny_pages_dir, out_dir=out, run_id="RC",
                       config=PipelineConfig(star_min_block=None))
    p2.run()
    assert p1.cfg_fingerprint != p2.cfg_fingerprint
    assert not [m for m in p2.stage_metrics if m.get("resumed")]


def test_fingerprint_covers_every_output_field(monkeypatch):
    """Every PipelineConfig field but `checkpoints` (how stages
    materialize, not what they hold) moves the resume key, so a new
    output-changing field cannot be left out of it; so does every
    numeric constant of the deciding modules, read when the key is
    computed, unless it is derived from keyed values. No Spark job."""
    import dataclasses

    from dedupe_rust_spark.functions import scorecore, sigcore
    from dedupe_rust_spark.operators import candidates
    from dedupe_rust_spark.plans.pipeline import (
        PipelineConfig, decision_constants,
    )

    def fp(**changes):
        return DedupPipeline(None, "pages",
                             config=PipelineConfig(**changes)).cfg_fingerprint

    def other(v):
        if isinstance(v, bool):
            return not v
        if isinstance(v, (int, float)):
            return v + 1
        if isinstance(v, list):
            return v + ["other.example"]
        assert v is None, v
        return 16

    base = fp()
    for f in dataclasses.fields(PipelineConfig):
        v = getattr(PipelineConfig(), f.name)
        if f.name == "checkpoints":
            assert fp(checkpoints=not v) == base
        else:
            assert fp(**{f.name: other(v)}) != base, f.name
    assert (fp(exclude_hosts=["a.example", "b.example"])
            == fp(exclude_hosts=["b.example", "a.example"]))

    # derived at import from keyed constants, or keyed as a config field
    not_keyed = {"JACC_REFINE_LO", "JACC_REFINE_HI", "LSH_ROWS",
                 "DEFAULT_STAR_MIN_BLOCK"}
    owner = {name: mod
             for mod in (scorecore, sigcore, candidates, blocking)
             for name, v in vars(mod).items()
             if name.isupper() and not name.startswith("_")
             and isinstance(v, (int, float)) and not isinstance(v, bool)}
    assert set(decision_constants()) == set(owner) - not_keyed
    for name in decision_constants():
        mod = owner[name]
        with monkeypatch.context() as m:
            m.setattr(mod, name, getattr(mod, name) + 1)
            assert fp() != base, name
    assert fp() == base
    assert (scorecore.JACC_REFINE_LO < scorecore.JACCARD_MATCH
            < scorecore.JACC_REFINE_HI)


def test_cli_flags():
    """The CLI takes exactly the five kept flags; a removed tuning flag
    is an argparse error (exit 2). Argparse runs before Spark starts."""
    import re
    import subprocess
    import sys

    script = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs", "run_pipeline.py")
    out = subprocess.run([sys.executable, script, "--help"],
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert set(re.findall(r"--[a-z][a-z-]*", out.stdout)) == {
        "--help", "--pages", "--output", "--run-id", "--exclude-host",
        "--use-golden-text"}
    bad = subprocess.run([sys.executable, script, "--pages", "p",
                          "--output", "o", "--lev-match", "0.5"],
                         capture_output=True, text=True, timeout=60)
    assert bad.returncode == 2
    assert "unrecognized arguments: --lev-match" in bad.stderr


def test_fast_path_equals_checkpointed(spark, tiny_pages_dir):
    """checkpoints=False (throughput fast path) must produce identical
    clusters to the default checkpointed path."""
    from dedupe_rust_spark.plans.pipeline import PipelineConfig

    slow = DedupPipeline(spark, tiny_pages_dir).run()
    fast = DedupPipeline(spark, tiny_pages_dir,
                         config=PipelineConfig(checkpoints=False)).run()
    assert slow.exceptAll(fast).count() == 0
    assert fast.exceptAll(slow).count() == 0


def test_dataframe_source_equals_dir_source(spark, tiny_pages_dir):
    """An already-built pages DataFrame runs the same clean -> spread ->
    extract composition as the pages dir it was read from."""
    from dedupe_rust_spark.plans.pipeline import PipelineConfig

    fast = PipelineConfig(checkpoints=False)
    from_dir = DedupPipeline(spark, tiny_pages_dir, config=fast).run()
    from_df = DedupPipeline(spark, read_pages(spark, tiny_pages_dir),
                            config=fast).run()
    assert from_dir.count() > 0
    assert from_dir.exceptAll(from_df).count() == 0
    assert from_df.exceptAll(from_dir).count() == 0


def test_stage_rows_out_equal_counts(spark, tiny_pages_dir, tmp_path):
    """rows_out of the materialized stages equals a count() of the stage
    output, on the fast path and the checkpointed path alike; the parquet
    checkpoints of an out_dir run are the reference outputs."""
    from dedupe_rust_spark.plans.pipeline import PipelineConfig

    ref = DedupPipeline(spark, tiny_pages_dir, out_dir=str(tmp_path),
                        run_id="ROWS")
    expect = {"pipeline": ref.run().count()}
    for stage in ("signatures", "candidates", "clusters"):
        expect[stage] = spark.read.parquet(ref._ckpt_path(stage)).count()
    assert expect["clusters"] == expect["pipeline"] > 0
    for checkpoints in (False, True):
        pipe = DedupPipeline(spark, tiny_pages_dir,
                             config=PipelineConfig(checkpoints=checkpoints))
        assert pipe.run().count() == expect["pipeline"]
        got = {m["stage"]: m["rows_out"] for m in pipe.stage_metrics
               if m["stage"] in expect}
        assert got == expect, checkpoints


def test_written_tables_match_declared_schemas(spark, tiny_pages_dir,
                                               tmp_path):
    """The parquet tables of an out_dir run carry exactly the column names
    and types declared in schemas.py (parquet reads back every column
    nullable, so nullability is not compared)."""
    from dedupe_rust_spark import schemas

    pipe = DedupPipeline(spark, tiny_pages_dir, out_dir=str(tmp_path),
                         run_id="SCH")
    pipe.run()
    declared = {"signatures": schemas.SIGNATURES,
                "candidates": schemas.CANDIDATES,
                "scores": schemas.SCORES,
                "clusters": schemas.CLUSTERS}
    paths = {t: pipe._ckpt_path(t) for t in declared}
    declared["metrics"] = schemas.METRICS
    paths["metrics"] = os.path.join(str(tmp_path), "metrics", "run_id=SCH")
    for table, schema in declared.items():
        got = spark.read.parquet(paths[table]).schema
        assert ([(f.name, f.dataType) for f in got]
                == [(f.name, f.dataType) for f in schema]), table


def test_fast_path_jobs_carry_stage_descriptions(spark, tiny_pages_dir):
    """Every driver job of one fast-path run carries the description of
    the work it does (`stage:<name>` or `cc:*`), read from the status
    store, which works with the UI off; the caller's description is
    restored afterwards."""
    from dedupe_rust_spark.plans.pipeline import PipelineConfig

    sc = spark.sparkContext
    group = "test_job_descriptions"
    sc.setJobGroup(group, None)
    try:
        DedupPipeline(spark, tiny_pages_dir,
                      config=PipelineConfig(checkpoints=False)).run()
        assert sc.getLocalProperty("spark.job.description") is None
        sc.setJobDescription("outer")
        cluster.connected_components(spark.createDataFrame(
            [(1, 2)], "src long, dst long"))
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    store = sc._jsc.sc().statusStore()
    descs = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        d = store.job(job_id).description()
        descs.append(d.get() if d.isDefined() else None)
    assert "stage:clusters" in descs
    assert all(d is not None and d.startswith(("stage:", "cc:"))
               for d in descs), descs


def test_write_report_golden_shape(spark, tiny_pages_dir, tmp_path):
    pipe = DedupPipeline(spark, tiny_pages_dir, out_dir=str(tmp_path),
                         run_id="RPT")
    clusters = pipe.run()
    report = pipe.write_report(clusters)
    assert report["total_groups"] == report["groups_inlined"] > 0
    assert len(report["groups"]) == report["groups_inlined"]
    for g in report["groups"][:20]:
        assert g["urls"] == sorted(g["urls"]) and g["n"] == len(g["urls"]) >= 2
    # groups sorted by first member (reference main.rs:310-315)
    firsts = [g["urls"][0] for g in report["groups"]]
    assert firsts == sorted(firsts)
    import os
    assert os.path.exists(str(tmp_path / "dedupe_report_RPT.json"))
    # the driver collect is bounded: a tiny cap inlines only that many
    capped = pipe.write_report(clusters, max_inline_groups=3)
    assert capped["groups_inlined"] == len(capped["groups"]) == 3
    assert capped["total_groups"] == report["total_groups"]
