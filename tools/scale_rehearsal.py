"""Scale rehearsal (round-3 verdict task 3): run the full pipeline at
2x the scaling input (800k pages), recording wall, shuffle bytes, per-
stage walls, contraction-CC level count, salted-block census, and the
pair-stream histogram — the metrics that must stay well-behaved as the
match graph grows. Results row lives in BENCH/BASELINE.md.

Usage: python tools/scale_rehearsal.py [n_pages] [--constant-family]
(default 800000; --constant-family uses the datagen mode whose dup/near-dup
family sizes do NOT grow with n_pages — the r5 verdict's corpus for the
shuffle-bytes-per-doubling linearity measurement, round 6)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_UI", "1")


def main() -> None:
    from bench import _shuffle_totals, _warmup
    from dedupe_rust_spark.datagen import pages_dir_for
    from dedupe_rust_spark.operators import blocking, signatures as sigs
    from dedupe_rust_spark.operators.candidates import (
        DEFAULT_STAR_MIN_BLOCK, pair_stream_stats,
    )
    from dedupe_rust_spark.plans.pipeline import DedupPipeline, PipelineConfig
    from dedupe_rust_spark.session import get_spark
    from dedupe_rust_spark.sources.pages import clean_pages, read_pages

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    cf = "--constant-family" in sys.argv
    n_pages = int(args[0]) if args else 800_000
    spark = get_spark(app="scale_rehearsal", cpus=32)
    pages_dir = pages_dir_for("/root/testdata/sf0.1", n_rows=n_pages,
                              constant_family=cf)
    cfg = PipelineConfig(checkpoints=False)
    _warmup(spark)
    DedupPipeline(spark, pages_dir, config=cfg).run()  # warm lap

    s0 = _shuffle_totals(spark)
    t0 = time.monotonic()
    pipe = DedupPipeline(spark, pages_dir, config=cfg)
    clustered = pipe.run().count()
    wall = time.monotonic() - t0
    s1 = _shuffle_totals(spark)

    # salt census + pair histogram on the same input (untimed, separate
    # jobs — the fast path skips the census to keep stages fused)
    pages = clean_pages(read_pages(spark, pages_dir))
    par = spark.sparkContext.defaultParallelism
    sig = sigs.signatures(sigs.extract(pages.repartition(2 * par)))
    sig = sig.localCheckpoint()
    roots = blocking.exact_roots(sig).localCheckpoint(eager=False)
    reps = blocking.exact_representatives(sig, roots).localCheckpoint(
        eager=False)
    pruned, cap = blocking.prune_blocks(blocking.all_blocks(reps),
                                        blocking.DEFAULT_MAX_BLOCK,
                                        blocking.DEFAULT_HOT_BOUND)
    stats = pair_stream_stats(pruned, DEFAULT_STAR_MIN_BLOCK)

    print(json.dumps({
        "pages": n_pages, "constant_family": cf,
        "wall_sec": round(wall, 2),
        "clustered_urls": clustered,
        "stage_ms": {m["stage"]: m["wall_ms"] for m in pipe.stage_metrics
                     if "wall_ms" in m},
        "cc_levels": next((m["rows_out"] for m in pipe.stage_metrics
                           if m["stage"] == "cc_loop"), None),
        "candidate_pairs": next((m["rows_out"] for m in pipe.stage_metrics
                                 if m["stage"] == "candidates"), None),
        "blocks_salted": cap.count(),
        **stats,
        "shuffle_write": (s1["shuffle_write_bytes"]
                          - s0["shuffle_write_bytes"]) if s0 else None,
        "shuffle_read": (s1["shuffle_read_bytes"]
                         - s0["shuffle_read_bytes"]) if s0 else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
