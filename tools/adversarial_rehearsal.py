"""Adversarial-tail rehearsal (round-4 verdict task 4): exercise the
100 TB OOM guards at scale with a corpus BUILT to trip them, and prove
they fire, stay bounded, and are counted — not just unit-tested.

Injected pathologies on top of the standard 400k-page bench corpus:
  * HOT KEY — 140,000 pages on one host sharing an identical first text
    line ("Untitled Document") with pairwise-distinct bodies: one
    host+title block key with 140k members (> 2x the 64k
    blocking.DEFAULT_HOT_BOUND), the boilerplate-title web pathology.
    Without the row-level pre-salt, the grouping collect_list would build
    one ~1.1 MB aggregation row and its sub-block salt would explode
    in-row; with it, no grouped row may exceed ~DEFAULT_MAX_BLOCK.
  * EXACT FAMILY — 100,000 byte-identical pages across hosts: one
    10^5-member exact-dup star. Must collapse to ONE representative
    before LSH (HashAggregate path) and never enter the CC loop.

Labeled subset: the base corpus's labeled_pairs PLUS 5,000 sampled
exact-family positives (tier=exact) and 5,000 hot-title negatives
(tier=adversarial, distinct bodies sharing a title must NOT match).

Reported (BENCH/BASELINE.md "Adversarial-tail rehearsal"): salt census
rows (hot-key presalt + in-row salt), largest grouped aggregation row,
pair counts through the funnel, F1/precision/recall on the labeled
subset, exact-tier false negatives, wall, shuffle bytes.

Usage: python tools/adversarial_rehearsal.py [base_pages]   # default 400000
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_UI", "1")

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_HOT = 140_000        # > 2x DEFAULT_HOT_BOUND (65,536) distinct texts
N_FAMILY = 100_000     # one exact-dup family
N_LABELED_EACH = 5_000
ADV_VERSION = "1"


def _adv_pages_and_pairs(seed: int = 7) -> tuple[pd.DataFrame, pd.DataFrame]:
    from dedupe_rust_spark.datagen import EPOCH
    from dedupe_rust_spark.functions.textcore import render_html

    rng = random.Random(seed)
    vocab = [f"w{i:03d}" for i in range(600)]
    rows: list[dict] = []
    # hot title block: identical first line, pairwise-distinct bodies
    # (a unique marker token per page guarantees distinctness; the rest is
    # vocab salad so MinHash similarity between any two pages stays low)
    hot_urls = []
    for i in range(N_HOT):
        body = " ".join(rng.choices(vocab, k=40)) + f" marker{i:06d}"
        url = f"https://hot.example.com/untitled-{i:06d}.html"
        hot_urls.append(url)
        rows.append({
            "url": url, "warc_ts": EPOCH,
            "html": render_html("Untitled Document", [body]),
            "text": None, "lang": "en",
        })
    # exact family: byte-identical html on many hosts
    fam_html = render_html("Family Notice", [
        "identical boilerplate body repeated verbatim on every mirror "
        * 4])
    fam_urls = []
    for i in range(N_FAMILY):
        url = f"https://m{i % 200:03d}.example.org/family-{i:06d}.html"
        fam_urls.append(url)
        rows.append({"url": url, "warc_ts": EPOCH, "html": fam_html,
                     "text": None, "lang": "en"})

    pair_rows = []
    for i in rng.sample(range(1, N_FAMILY), N_LABELED_EACH):
        a, b = sorted((fam_urls[0], fam_urls[i]))
        pair_rows.append((a, b, True, "exact"))
    seen = set()
    while len(seen) < N_LABELED_EACH:
        i, j = rng.sample(range(N_HOT), 2)
        key = (min(i, j), max(i, j))
        if key not in seen:
            seen.add(key)
    for i, j in sorted(seen):
        a, b = sorted((hot_urls[i], hot_urls[j]))
        pair_rows.append((a, b, False, "adversarial"))
    pairs = pd.DataFrame(pair_rows,
                         columns=["url_a", "url_b", "is_dup", "tier"])
    return pd.DataFrame(rows), pairs


def adv_dir_for(base_pages: int) -> str:
    """Materialize base-corpus + adversarial pages under .data (cached).
    The stamp encodes BOTH the adversarial layer version and the base
    generator version — a regenerated base corpus (GEN_VERSION bump)
    invalidates the combined cache instead of silently serving stale
    pages (the same stale-cache guard datagen.materialize applies)."""
    from dedupe_rust_spark.datagen import _PA_PAGES, GEN_VERSION, pages_dir_for

    base_dir = pages_dir_for("/root/testdata/sf0.1", n_rows=base_pages)
    out = os.path.abspath(os.path.join(
        os.path.dirname(base_dir), f"adv_n{base_pages}"))
    stamp = os.path.join(out, f".stamp_adv{ADV_VERSION}_g{GEN_VERSION}")
    if os.path.exists(stamp):
        return out
    os.makedirs(out, exist_ok=True)
    for f in os.listdir(out):
        if f.startswith(".stamp_"):
            os.unlink(os.path.join(out, f))
    adv_pages, adv_pairs = _adv_pages_and_pairs()
    base = pq.read_table(os.path.join(base_dir, "pages.parquet"))
    combined = pa.concat_tables([
        base, pa.Table.from_pandas(adv_pages, schema=_PA_PAGES,
                                   preserve_index=False)])
    pq.write_table(combined, os.path.join(out, "pages.parquet"),
                   row_group_size=8192)
    base_pairs = pq.read_table(
        os.path.join(base_dir, "labeled_pairs.parquet")).to_pandas()
    all_pairs = pd.concat([base_pairs, adv_pairs], ignore_index=True)
    pq.write_table(pa.Table.from_pandas(all_pairs, preserve_index=False),
                   os.path.join(out, "labeled_pairs.parquet"))
    with open(stamp, "w") as f:
        f.write(ADV_VERSION)
    return out


def main() -> None:
    from bench import _shuffle_totals, _warmup
    from pyspark.sql import functions as F

    from dedupe_rust_spark.operators import blocking, signatures as sigs
    from dedupe_rust_spark.operators.candidates import (
        DEFAULT_STAR_MIN_BLOCK, pair_stream_stats,
    )
    from dedupe_rust_spark.plans.pipeline import DedupPipeline, PipelineConfig
    from dedupe_rust_spark.session import get_spark
    from dedupe_rust_spark.sources.pages import (
        clean_pages, read_labeled_pairs, read_pages,
    )

    base_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    pages_dir = adv_dir_for(base_pages)
    spark = get_spark(app="adversarial_rehearsal", cpus=32)
    cfg = PipelineConfig(checkpoints=False)
    _warmup(spark)
    DedupPipeline(spark, pages_dir, config=cfg).run()  # warm lap

    s0 = _shuffle_totals(spark)
    t0 = time.monotonic()
    pipe = DedupPipeline(spark, pages_dir, config=cfg)
    clusters = pipe.run().cache()
    clustered = clusters.count()
    wall = time.monotonic() - t0
    s1 = _shuffle_totals(spark)

    # ---- guard census (untimed; the fast path skips it to stay fused)
    pages = clean_pages(read_pages(spark, pages_dir))
    par = spark.sparkContext.defaultParallelism
    sig = sigs.signatures(sigs.extract(pages.repartition(2 * par)))
    sig = sig.localCheckpoint()
    roots = blocking.exact_roots(sig).localCheckpoint(eager=False)
    reps = blocking.exact_representatives(sig, roots).localCheckpoint(
        eager=False)
    blocks = blocking.all_blocks(reps)
    pruned, cap = blocking.prune_blocks(blocks, blocking.DEFAULT_MAX_BLOCK,
                                        blocking.DEFAULT_HOT_BOUND)
    cap = cap.cache()
    hot_rows = cap.filter(
        F.col("block_size") >= blocking.DEFAULT_HOT_BOUND).count()
    salt_rows = cap.count()
    max_injected = cap.agg(F.max("block_size")).first()[0]
    max_grouped_row = pruned.agg(F.max(F.size("ids"))).first()[0]
    stats = pair_stream_stats(pruned, DEFAULT_STAR_MIN_BLOCK)
    # exact family truly collapsed to one representative?
    fam_reps = reps.filter(
        F.col("url").startswith("https://m")
        & F.col("url").contains("/family-")).count()

    # ---- F1 on the labeled subset (base labels + injected labels)
    pairs = read_labeled_pairs(spark, pages_dir)
    pred = (
        pairs
        .join(clusters.withColumnsRenamed(
            {"url": "url_a", "cluster_id": "ca"}), "url_a", "left")
        .join(clusters.withColumnsRenamed(
            {"url": "url_b", "cluster_id": "cb"}), "url_b", "left")
        .withColumn("pred", F.coalesce(
            F.col("ca").isNotNull() & (F.col("ca") == F.col("cb")),
            F.lit(False)))
    ).cache()
    agg = pred.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("is_dup") & F.col("pred"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("is_dup") & F.col("pred"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("is_dup") & ~F.col("pred"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when((F.col("tier") == "exact") & F.col("is_dup")
                     & ~F.col("pred"), 1).otherwise(0)).alias("exact_fn"),
        F.sum(F.when((F.col("tier") == "adversarial") & F.col("pred"), 1)
              .otherwise(0)).alias("adversarial_fp"),
    ).first()
    tp, fp, fn = agg["tp"], agg["fp"], agg["fn"]
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    f1 = 2 * precision * recall / max(precision + recall, 1e-12)

    print(json.dumps({
        "base_pages": base_pages, "hot_pages": N_HOT,
        "family_pages": N_FAMILY,
        "wall_sec": round(wall, 2), "clustered_urls": clustered,
        "stage_ms": {m["stage"]: m["wall_ms"] for m in pipe.stage_metrics
                     if "wall_ms" in m},
        "cc_levels": next((m["rows_out"] for m in pipe.stage_metrics
                           if m["stage"] == "cc_loop"), None),
        "candidate_pairs": next((m["rows_out"] for m in pipe.stage_metrics
                                 if m["stage"] == "candidates"), None),
        "salt_census_rows": salt_rows,
        "hot_presalt_rows": hot_rows,
        "max_injected_block": max_injected,
        "max_grouped_row_ids": max_grouped_row,
        "family_reps_after_collapse": fam_reps,
        **stats,
        "labeled_pairs": agg["n"], "tp": tp, "fp": fp, "fn": fn,
        "exact_fn": agg["exact_fn"],
        "adversarial_fp": agg["adversarial_fp"],
        "precision": round(precision, 4), "recall": round(recall, 4),
        "f1": round(f1, 4),
        "shuffle_write": (s1["shuffle_write_bytes"]
                          - s0["shuffle_write_bytes"]) if s0 else None,
        "shuffle_read": (s1["shuffle_read_bytes"]
                         - s0["shuffle_read_bytes"]) if s0 else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
