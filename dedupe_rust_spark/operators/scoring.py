"""Pair scoring: attach texts + MinHash, score, threshold.

Reference analog: the deep verification tier (full decode + hash equality,
/root/reference/src/main.rs:586-648) — generalized to Levenshtein-ratio /
MinHash-Jaccard with a match decision. The scores rows carry exactly what
that decision reads: (id_a, id_b, lev_sim, jaccard, is_match).

Pairs arrive and leave as surrogate LONG ids (id_a, id_b) — the key
currency of the whole fuzzy path; urls come back once, at cluster output,
on the exact group map (cluster.propagate_to_members).

Jaccard is the MINHASH ESTIMATE (fraction of agreeing signature rows,
k=128), computed as a codegen'd zip_with equality over the signature
arrays already joined onto the pair, then EXACTLY REFINED inside the
score UDF only for pairs whose estimate lands in the refine band around
the jaccard threshold (scorecore.JACC_REFINE_LO..JACC_REFINE_HI). Round-1
re-shingled both texts per pair in Python for EVERY pair (the dominant
scoring cost: a text in k candidate pairs re-shingled k times); now only
the narrow boundary band pays that, and the F1-vs-scale table is
unchanged.

Match decision (scorecore's constants, tuned on labeled_pairs):
  is_match := lev_sim >= LEV_MATCH (0.85)  OR  jaccard >= JACCARD_MATCH (0.50)
near_mid pairs (>= 0.85 word-edit similarity) land above both; near_low
(0.70-0.85) and adversarial pairs land below. Exact dups never reach here
(collapsed pre-blocking) but would score 1.0 anyway.

Scale note: minhash/text attach joins run against the signatures table
SEMI-FILTERED to candidate-incident ids (broadcast id set, guide §3.2) —
so the corpus-sized signature columns are scanned but never shuffled;
only candidate rows and the candidates' own signature payloads cross the
network. Without the pre-filter the attach transitions to a sort-merge
join that shuffles the whole corpus table the moment candidates outgrow
the broadcast threshold (measured at the 3.2M-page rehearsal, round 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.scorecore import JACC_REFINE_HI, JACCARD_MATCH, LEV_MATCH
from ..functions.sigcore import MINHASH_K
from ..functions.udfs import score_pairs_udf


def minhash_jaccard_expr(mh_a, mh_b):
    """Jaccard estimate = fraction of equal MinHash rows; all-builtin
    (zip_with + aggregate), stays in codegen. Null if either side is null."""
    agree = F.aggregate(
        F.zip_with(mh_a, mh_b,
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (agree.cast("double") / F.lit(float(MINHASH_K)))


def attach_estimates(pairs: DataFrame, sig: DataFrame,
                     prefilter: bool = True) -> DataFrame:
    """pairs + JVM-side MinHash-Jaccard estimate: (id_a, id_b, jacc_est).

    The signature arrays are DROPPED in the same projection — they never
    ride the downstream pair shuffles (at 7.8M pairs the arrays were
    multiple GB of extra shuffle, which erased the Python savings at high
    parallelism: memory bandwidth is the shared resource at 32 cores).

    The minhash table is SEMI-FILTERED to ids that appear in a pair
    before the attach joins (guide §3.2): minhash rows are ~256 B of
    near-incompressible shorts, and once the pair side outgrows the
    broadcast threshold the un-filtered attach is planned as a
    sort-merge join that shuffles the ENTIRE corpus minhash table —
    measured 0.61 GB written / 1.30 GB read at the 3.2M-page
    constant-family rehearsal, the largest super-linear step in the
    doubling measurement. The pair rows (16 B each) are lazily
    materialized so deriving the id set does not recompute pair
    generation; the semi's build side is 8-byte longs and is broadcast
    AT PLAN TIME — a runtime-adaptive plain semi-join was measured to
    write the full minhash exchange anyway (AQE demotes a join only
    after both child map stages have materialized). Bound: the id set
    must fit a broadcast relation (512M rows / 8 GB — ~500M distinct
    candidate ids); past that, drop the hint and this degrades to the
    sort-merge attach. Pure filter: join results unchanged.

    prefilter=False skips the semi (callers that KNOW the whole minhash
    table fits a broadcast, e.g. the pipeline below its row threshold:
    the attach joins then broadcast sig directly and the pre-filter's
    distinct + broadcast-build jobs are pure serial latency)."""
    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    mh = sig.select("id", "minhash")
    if prefilter:
        need = (pairs.select(F.col("id_a").alias("id"))
                .unionByName(pairs.select(F.col("id_b").alias("id")))
                .distinct())
        mh = mh.join(F.broadcast(need), "id", "left_semi")
    return (
        pairs
        .join(mh.withColumnsRenamed(
            {"id": "id_a", "minhash": "_ma"}), "id_a")
        .join(mh.withColumnsRenamed(
            {"id": "id_b", "minhash": "_mb"}), "id_b")
        .select(
            "id_a", "id_b",
            minhash_jaccard_expr(F.col("_ma"), F.col("_mb")).alias("jacc_est"),
        )
    )


def score_estimated(est_pairs: DataFrame, sig: DataFrame,
                    prefilter: bool = True) -> DataFrame:
    """Fast/slow split on the estimate:
      * est >= JACC_REFINE_HI (above JACCARD_MATCH): is_match is already
        decided TRUE (jaccard path; lev cannot flip a True) — no text
        join, no UDF. lev_sim is null on these rows.
      * below the cut OR est is NULL (a side with no minhash signature):
        texts attached, scorer UDF runs with the estimate's na treated as
        0.0, exact Jaccard refinement inside the decision band. Null
        estimates cannot take the fast path (nothing to decide on) and
        MUST NOT vanish — the filters are complementary by construction.
    On web corpora most LSH candidates are true near-dups, so the fast
    path removes the text shuffle + Python scoring for the bulk of pairs.
    """
    fast = est_pairs.filter(F.col("jacc_est") >= JACC_REFINE_HI).select(
        "id_a", "id_b",
        F.lit(None).cast("double").alias("lev_sim"),
        F.col("jacc_est").alias("jaccard"),
        F.lit(True).alias("is_match"),
    )
    slow_pairs = est_pairs.filter((F.col("jacc_est") < JACC_REFINE_HI)
                                  | F.col("jacc_est").isNull())
    # Restrict the text attach to ids that actually appear in a slow-path
    # pair BEFORE any join (guide §3.2 semi-join pre-filter): without
    # this, once the pair side outgrows the broadcast threshold the
    # attach is planned as a sort-merge join that shuffles the ENTIRE
    # corpus texts table — measured 0.61 GB written / 1.30 GB read at the
    # 3.2M-page constant-family rehearsal, the single largest
    # super-linear step in the doubling measurement. The semi's build
    # side is the distinct slow-pair id set (8-byte longs), broadcast at
    # plan time — see attach_estimates for why runtime-adaptive is too
    # late; the same 512M-row/8GB bound applies. Pure filter: join
    # results are unchanged. prefilter=False skips it (see
    # attach_estimates — small-corpus callers whose whole text table
    # broadcasts anyway).
    texts = sig.select("id", "text")
    if prefilter:
        need = (slow_pairs.select(F.col("id_a").alias("id"))
                .unionByName(slow_pairs.select(F.col("id_b").alias("id")))
                .distinct())
        texts = texts.join(F.broadcast(need), "id", "left_semi")
    slow = (
        slow_pairs
        .join(texts.withColumnsRenamed({"id": "id_a", "text": "_ta"}), "id_a")
        .join(texts.withColumnsRenamed({"id": "id_b", "text": "_tb"}), "id_b")
    )
    # AQE coalesces the (byte-wise small) pair shuffle down to few
    # partitions, which would serialize the CPU-heavy scorer UDF. Spread
    # pairs across the cluster: cost is a tiny shuffle, win is full
    # parallelism on the most expensive per-row stage.
    par = est_pairs.sparkSession.sparkContext.defaultParallelism
    slow = slow.repartition(2 * par)
    scored = slow.withColumn(
        "s", score_pairs_udf(F.col("_ta"), F.col("_tb"), F.col("jacc_est"))
    ).select(
        "id_a",
        "id_b",
        F.col("s.lev_sim").alias("lev_sim"),
        F.col("s.jaccard").alias("jaccard"),
        (
            (F.col("s.lev_sim") >= LEV_MATCH)
            | (F.col("s.jaccard") >= JACCARD_MATCH)
        ).alias("is_match"),
    )
    return fast.unionByName(scored)


def score_candidates(pairs: DataFrame, sig: DataFrame,
                     prefilter: bool = True) -> DataFrame:
    """attach_estimates + score_estimated in one call (the estimate table
    is lazily materialized since both branches of the split consume it)."""
    est = attach_estimates(pairs, sig, prefilter).localCheckpoint(eager=False)
    return score_estimated(est, sig, prefilter)


def match_edges(scores: DataFrame) -> DataFrame:
    return scores.filter(F.col("is_match")).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
