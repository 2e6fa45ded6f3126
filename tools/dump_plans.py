"""Dump .explain('formatted') for the engine's key physical plans into
docs/PLANS.md, with the properties each plan must exhibit (pushed filters,
broadcast choices, codegen spans).

Session-global numbers are renumbered per section in order of first
appearance — expression ids (`#<n>`), `plan_id=<n>`, RDD ids (`RDD[<n>]`)
and lambda variable suffixes (`lambda x_<n>`) — and input paths read
`<sf_dir>/` and `<checkout>/`, so a rerun with no planner-visible change
rewrites nothing, and a plan that did change shows only its own diff.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS_MD = os.path.join(ROOT, "docs", "PLANS.md")
sys.path.insert(0, ROOT)
_VOLATILE = re.compile(r"(#|plan_id=|RDD\[|lambda [A-Za-z]+_)(\d+)")


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def normalize(text: str) -> str:
    """Renumber the session-global ids in order of first appearance (one
    numbering per kind); paths inside the checkout read `<checkout>/...`."""
    ids: dict[str, dict[str, int]] = {}

    def sub(m: re.Match) -> str:
        kind = ids.setdefault(m.group(1), {})
        return f"{m.group(1)}{kind.setdefault(m.group(2), len(kind) + 1)}"

    return _VOLATILE.sub(sub, text.replace(ROOT, "<checkout>"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from dedupe_rust_spark.datagen import pages_dir_for
    from dedupe_rust_spark.operators import (ann, blocking, candidates as cand,
                                             cluster, scoring)
    from dedupe_rust_spark.operators.signatures import extract, signatures
    from dedupe_rust_spark.plans.queries import q_d2_exact_clusters
    from dedupe_rust_spark.session import get_spark
    from dedupe_rust_spark.sources.pages import clean_pages, read_pages

    spark = get_spark(app="dump_plans", cpus=8)
    pages_dir = pages_dir_for(sf_dir)
    pages = clean_pages(read_pages(spark, pages_dir))

    sections: list[tuple[str, str, str]] = []

    # 1. source scan with predicates
    scan = pages.select("url", "lang").filter(F.col("lang") == "en")
    sections.append((
        "Source scan: projection + predicate pushdown",
        "PushedFilters must include IsNotNull(url)/StartsWith(url,http); "
        "ReadSchema must NOT include `html` (column pruning: blocking never "
        "deserializes page bodies).",
        fmt(scan),
    ))

    # 1b. the signatures stage (the pipeline's first materialized stage)
    sig_df = signatures(extract(pages))
    sections.append((
        "Extract + signatures: two Arrow UDF islands, built-in hashes",
        "No Exchange; id, prefix_hash, text_sha256 and n_chars are "
        "built-in expressions in codegen. Two ArrowEvalPython nodes: the "
        "`text IS NOT NULL` filter is pushed below the projection, so "
        "extract_text_udf runs once for that filter and AGAIN beside "
        "signatures_udf (text -> simhash, the 32x4 LSH band keys, "
        "minhash) — every page is extracted twice (an open item, not a "
        "property to keep).",
        fmt(sig_df),
    ))
    sig = sig_df.localCheckpoint()

    # 2. exact clusters (flagship, builtin-only)
    sections.append((
        "Exact-dup clusters (groupBy sha256, HAVING n>1, min-url label)",
        "Partial + final aggregation around one Exchange; WholeStageCodegen "
        "spans everything; no Python. NOTE: the min(url) label agg carries "
        "a var-length string buffer, so Spark plans it as SortAggregate — "
        "acceptable HERE because d2 is an output-contract query whose "
        "result is the label itself; the HOT-PATH exact collapse selects "
        "roots by min(id) and is a true HashAggregate (next section).",
        fmt(q_d2_exact_clusters(spark, sf_dir)),
    ))

    # 2b. hot-path exact collapse: must be HashAggregate, no Sort
    roots_df = blocking.exact_roots(sig)
    reps_df = blocking.exact_representatives(sig, roots_df)
    gm_df = blocking.exact_group_map(sig, roots_df)
    sections.append((
        "Exact collapse (hot path): min(id) roots + long-keyed rep join",
        "ALL THREE plans (roots, representatives, group map) must show "
        "HashAggregate and contain NO Sort / SortAggregate node: the "
        "min(id) buffer is an 8-byte long, which HashAggregateExec holds "
        "(min_by(..., url) falls back to SortAggregate + a per-partition "
        "corpus sort). Representatives are recovered by a hash join on "
        "id = root_id. The group map projects (url, root_id): the url "
        "rides the join that finds the root, so cluster output needs no "
        "second pass over the signatures table.",
        "\n".join(["-- exact_roots --", fmt(roots_df),
                   "-- exact_representatives --", fmt(reps_df),
                   "-- exact_group_map --", fmt(gm_df)]),
    ))

    # 3. candidate generation as the pipeline runs it (hybrid star)
    reps = blocking.exact_representatives(sig)
    pruned, _ = blocking.prune_blocks(blocking.all_blocks(reps))
    pairs = cand.simhash_prefilter(
        cand.candidate_pairs(pruned, keep_block_key=False,
                             star_min_block=cand.DEFAULT_STAR_MIN_BLOCK),
        sig)
    sections.append((
        "Grouped LSH blocking -> hybrid star/clique pairs + SimHash prefilter",
        "ONE hash-agg exchange for the band stream (collect_list per "
        "block key, map-side combinable); singleton prune and oversized-"
        "block salting are in-row expressions (no Window, no join-back); "
        "pairs come from Generate (explode) nodes — small blocks via the "
        "nested clique explode, large blocks via the two dual-hub star "
        "explodes, unioned — no self-join; the only pair-sized exchange "
        "is the dropDuplicates dedup. Every pair/key column is a LONG "
        "(surrogate ids — no url or block-key strings in any shuffle); "
        "bit_count(xor) prefilter is a codegen'd expression.",
        fmt(pairs),
    ))

    # 4. scoring (the only pandas UDF in the pair path)
    sections.append((
        "Pair scoring (ArrowEvalPython island)",
        "Exactly ONE ArrowEvalPython node; everything around it stays in "
        "WholeStageCodegen. Texts attached via two hash joins.",
        fmt(scoring.score_candidates(pairs, sig)),
    ))

    # 4b. cluster output: CC labels onto the exact group map, min-url label
    labels = cluster.propagate_to_members(
        cluster.connected_components(
            scoring.match_edges(scoring.score_candidates(pairs, sig))),
        gm_df)
    sections.append((
        "Cluster output: CC labels onto the exact group map, min-url label",
        "Both Scan ExistingRDD nodes read the SAME lazy checkpoint of the "
        "labeled (url, label_id) rows: the group map above plus ONE left "
        "join of the CC labels on root_id (label = coalesce(cc label, "
        "root_id)) — no join on id and no distinct. One reader is the "
        "min(url)/count aggregation, the other the final label join. The "
        "SortAggregate (min over a url string) is contract-required and "
        "runs over labeled rows only.",
        fmt(labels),
    ))

    # 5. ANN brute force
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    sections.append((
        "ANN cosine top-k (broadcast probes)",
        "BroadcastNestedLoopJoin/BroadcastHashJoin with the probe side "
        "broadcast — the corpus never shuffles; window top-k per probe.",
        fmt(ann.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)),
    ))

    # 6. SRP-banded ANN top-k (long band keys + hoisted norms)
    sections.append((
        "SRP-banded ANN top-k (long band keys, per-vector norm hoist)",
        "The banded join key `block_key` is LongType — xxhash64(table, "
        "bucket), mirroring the text path's 8-byte band keys; no varchar "
        "keys ride the shuffle. The O(dim) norm folds appear ONLY in the "
        "per-vector projections (cn/pn attached before the pair join); "
        "the per-pair expression is dot / (pn * cn) — a neighbor "
        "colliding with many probes folds its norm once.",
        fmt(ann.lsh_cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)),
    ))

    # 7. SRP-LSH near-dup pairs, scored block-locally
    sections.append((
        "SRP-LSH near-dup pairs (block-local scoring)",
        "Exactly ONE hashpartitioning Exchange and no spread of the "
        "input: ONE ArrowEvalPython (_shard_band_udf) bands each vector "
        "map-side into struct<sig, shards> and a Generate explode makes one "
        "narrow (shard, vec_id, code_sig) row per score shard its (table, "
        "bucket) blocks hash to — at most min(S, n_tables) rows per vector, "
        "not one per table. Those rows take repartition(S, shard); vectors "
        "attach after it by a BroadcastHashJoin (BuildRight), which keeps "
        "the partitioning (a corpus above the broadcast threshold carries "
        "the embedding on the banded rows instead: no join). ONE "
        "FlatMapGroupsInArrow per shard recomputes the codes, checks them "
        "against code_sig, rebuilds its blocks and scores them (batched "
        "matmul, emit-once); round + threshold filter stay JVM-side. No "
        "pair-keyed exchange or distinct, and no join of pairs to vectors.",
        fmt(ann.lsh_cosine_pairs(emb, threshold=0.35)),
    ))

    out = ["# Physical plans of record",
           "",
           "Generated by tools/dump_plans.py — rerun after planner-visible",
           "changes. Each section lists the property the plan must exhibit.",
           ""]
    sf_abs = os.path.abspath(sf_dir)
    for title, props, plan in sections:
        plan = normalize(plan.replace(sf_abs, "<sf_dir>"))
        out += [f"## {title}", "", props, "", "```", plan.rstrip(), "```", ""]
    os.makedirs(os.path.dirname(PLANS_MD), exist_ok=True)
    with open(PLANS_MD, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {PLANS_MD}")


if __name__ == "__main__":
    main()
