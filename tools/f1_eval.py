"""Pairwise F1 on datagen labeled pairs at an arbitrary page count — the
harness behind BENCH/BASELINE.md's "F1 vs scale" table (gate: >= 0.99,
BASELINE.json; same thresholds at every scale, no retuning).

Usage: python tools/f1_eval.py [n_pages ...]     # default 1000 10000
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def f1_at(spark, n_pages: int) -> dict:
    from dedupe_rust_spark.datagen import pages_dir_for
    from dedupe_rust_spark.plans.pipeline import DedupPipeline, PipelineConfig
    from dedupe_rust_spark.sources.pages import read_labeled_pairs

    pages_dir = pages_dir_for("/root/testdata/sf0.1", n_rows=n_pages)
    clusters = DedupPipeline(
        spark, pages_dir, config=PipelineConfig(checkpoints=False)
    ).run().cache()
    pairs = read_labeled_pairs(spark, pages_dir)
    pred = (
        pairs
        .join(clusters.withColumnsRenamed({"url": "url_a", "cluster_id": "ca"}),
              "url_a", "left")
        .join(clusters.withColumnsRenamed({"url": "url_b", "cluster_id": "cb"}),
              "url_b", "left")
        .withColumn("pred", F.coalesce(
            F.col("ca").isNotNull() & (F.col("ca") == F.col("cb")),
            F.lit(False)))
    ).cache()
    n_labeled = pred.count()
    tp = pred.filter("is_dup and pred").count()
    fp = pred.filter("not is_dup and pred").count()
    fn = pred.filter("is_dup and not pred").count()
    exact_fn = pred.filter("tier = 'exact' and is_dup and not pred").count()
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    f1 = 2 * precision * recall / max(precision + recall, 1e-12)
    pred.unpersist()
    clusters.unpersist()
    return {
        "pages": n_pages, "labeled_pairs": n_labeled,
        "tp": tp, "fp": fp, "fn": fn, "exact_fn": exact_fn,
        "precision": round(precision, 4), "recall": round(recall, 4),
        "f1": round(f1, 4),
    }


def main() -> None:
    from dedupe_rust_spark.session import get_spark

    counts = [int(a) for a in sys.argv[1:]] or [1000, 10000]
    spark = get_spark(app="f1_eval", cpus=32)
    for n in counts:
        print(json.dumps(f1_at(spark, n)))


if __name__ == "__main__":
    main()
