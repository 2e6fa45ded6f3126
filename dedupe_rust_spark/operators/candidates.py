"""Candidate pair generation: block self-join (reference analog B1).

The reference's group-by-hash is the degenerate form of this equi
self-join (/root/reference/src/main.rs:488-498). `id_a < id_b` removes
the diagonal and symmetric pairs; dropDuplicates collapses pairs found by
multiple bands (UNION+DISTINCT, SURVEY.md §2.1 set ops).

Pairs are (id_a, id_b) LONGS — the surrogate keys assigned at the
signature stage — so the pair-dedup shuffle and every downstream join
moves 16 bytes of key per row instead of two url strings (~120-160 B).
urls are joined back once at cluster output.

Scale: the join shuffles on block_key; AQE skew-join splits hot keys.
A SimHash prefilter (hamming <= threshold via xor+bit_count,
all JVM-side) cheaply kills low-similarity pairs before pandas scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SIMHASH_HAMMING_MAX = 24
# SimHash over few shingles is high-variance: a single edit in a short doc
# flips many bits. Pairs where either text is shorter than this bypass the
# prefilter and go straight to exact scoring.
SHORT_TEXT_BYPASS = 300


# hybrid pair generation: blocks up to this size emit full cliques; larger
# blocks emit hub stars (see candidate_pairs docstring)
DEFAULT_STAR_MIN_BLOCK = 8


def candidate_pairs(grouped: DataFrame, keep_block_key: bool = True,
                    star_min_block: int | None = None) -> DataFrame:
    """Grouped blocks (block_key, ids array) -> distinct (id_a, id_b) pairs.

    Clique mode (star_min_block=None): two nested explodes over each
    block's id array — exactly m(m-1)/2 generated rows per block, all
    inside one codegen stage, versus a block_key equi self-join's extra
    exchange + m^2 probed rows. Every co-blocked pair is emitted — the
    exhaustive form the recall invariants (inv_lsh_recall) quantify over.

    Hybrid mode (star_min_block=K): blocks with m <= K still emit the
    full clique; larger blocks emit DUAL HUB STARS — (min(ids), x) and
    (x, max(ids)) for every member, 2(m-1) rows instead of m(m-1)/2.
    This is meta-blocking
    style comparison pruning (Papadakis et al., "Meta-Blocking: Taking
    Entity Resolution to the Next Level", TKDE 2014 — redundant
    comparisons across overlapping blocks): downstream the pipeline takes
    the TRANSITIVE CLOSURE of verified matches, so within a block whose
    members truly near-duplicate each other (the overwhelming case for
    large LSH blocks — near-clique families), connectivity through the
    hub yields identical clusters, while the quadratic per-block pair
    blowup — the dominant shuffle stream at 400k: 122M of 122M pre-dedup
    pairs came from blocks with m > 12 — collapses to linear. Recall
    risk is confined to non-hub pairs in a MIXED big block neither of
    whose endpoints matches that block's hub; such pairs co-occur in up
    to 31 other bands (different hubs, smaller blocks) and in the
    host+title key, so a real near-dup pair loses all its emission
    chances only if every shared band puts it in a big mixed block where
    BOTH hubs fail it — measured F1 impact at 1k/10k/200k is in
    BENCH/BASELINE.md. Hubs are min/max(ids) = extremal xxhash64(url):
    deterministic, and stable across the bands of a family (the same
    extremal members sit in most of their family's blocks, so star pairs
    from different bands largely COINCIDE — the pair-dedup exchange
    shrinks by the duplication factor too).

    The only shuffle here is the final pair dedup (dropDuplicates);
    rows are two longs, and keep_block_key=False drops the key before
    that shuffle (the retained key of a multi-band pair is arbitrary
    anyway)."""
    # sort each block's ids once: pair emission then needs only
    # posexplode + slice / element_at — pure array ops in codegen. The
    # round-5 form used F.filter(ids, lambda) higher-order predicates,
    # which evaluate an interpreted lambda PER ARRAY ELEMENT — at sum
    # m^2 ~ millions of element visits per run that was the candidates
    # stage's JIT-sensitive hot spot (same fix as ann.lsh_cosine_pairs).
    # ids are unique within a block (one band row per id per band), so
    # ascending order makes every emission canonical id_a < id_b — the
    # same pair set as the filter form, row for row.
    grouped = grouped.withColumn("ids", F.array_sort("ids"))
    if star_min_block is None:
        gen = grouped
    else:
        small = grouped.filter(F.size("ids") <= star_min_block)
        big = grouped.filter(F.size("ids") > star_min_block)
        # DUAL hubs (min and max id): a mixed block whose min-hub sits in
        # one sub-family still connects the other through the max-hub —
        # 2(m-1) rows, halves the single-hub miss surface for ~2x rows
        # (measured: restores the last few 200k-scale boundary pairs the
        # single hub dropped). Both emissions are canonical id_a < id_b;
        # the (min, max) pair appears in both and dedups.
        s_min = big.select(
            "block_key",
            F.element_at("ids", 1).alias("id_a"),
            F.explode(F.slice("ids", F.lit(2), F.size("ids"))).alias("id_b"),
        )
        s_max = big.select(
            "block_key",
            F.explode(F.slice("ids", F.lit(1), F.size("ids") - 1)
                      ).alias("id_a"),
            F.element_at("ids", -1).alias("id_b"),
        )
        star = s_min.unionByName(s_max.select("block_key", "id_a", "id_b"))
        gen = small
    a = gen.select(
        "block_key", F.posexplode("ids").alias("_i", "id_a"), "ids"
    )
    pairs = a.select(
        "block_key", "id_a",
        F.explode(F.slice("ids", F.col("_i") + 2, F.size("ids"))
                  ).alias("id_b"),
    )
    if star_min_block is not None:
        pairs = pairs.unionByName(star)
    if keep_block_key:
        return pairs.select("id_a", "id_b", "block_key").dropDuplicates(
            ["id_a", "id_b"])
    return pairs.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])


def pair_stream_stats(grouped: DataFrame, star_min_block: int | None = None
                      ) -> dict:
    """Block-size histogram summary of the candidate pair stream: how many
    pair rows generation EMITS before the dedup exchange (the bench
    duplication metric — BENCH/BASELINE.md). One count agg over the
    grouped blocks; no pair materialization."""
    hist = (grouped.select(F.size("ids").alias("m"))
            .groupBy("m").count().collect())
    if star_min_block is None:
        gen = sum(r["count"] * r["m"] * (r["m"] - 1) // 2 for r in hist)
    else:
        gen = sum(
            r["count"] * (r["m"] * (r["m"] - 1) // 2
                          if r["m"] <= star_min_block else 2 * (r["m"] - 1))
            for r in hist)
    return {
        "blocks": sum(r["count"] for r in hist),
        "block_members": sum(r["count"] * r["m"] for r in hist),
        "generated_pair_rows": gen,
    }


def simhash_prefilter(pairs: DataFrame, sig: DataFrame) -> DataFrame:
    """Join simhashes onto pairs and keep hamming(sim_a, sim_b) <=
    SIMHASH_HAMMING_MAX. bit_count(a XOR b) is a codegen'd JVM expression
    — no Python. Short texts bypass the filter (see SHORT_TEXT_BYPASS)."""
    sh = sig.select("id", "simhash", "n_chars")
    return (
        pairs
        .join(sh.withColumnsRenamed(
            {"id": "id_a", "simhash": "_sa", "n_chars": "_na"}), "id_a")
        .join(sh.withColumnsRenamed(
            {"id": "id_b", "simhash": "_sb", "n_chars": "_nb"}), "id_b")
        .withColumn("_ham", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))))
        .filter((F.col("_ham") <= SIMHASH_HAMMING_MAX)
                | (F.least("_na", "_nb") < SHORT_TEXT_BYPASS))
        .drop("_sa", "_sb", "_ham", "_na", "_nb")
    )
