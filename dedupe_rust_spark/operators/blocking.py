"""Blocking: exact-key + MinHash-LSH band keys, with hot-block control.

Reference analog: grouping by (ext, width, height) then by cheap hash
(/root/reference/src/main.rs:365-435, 488-498). Generalized per the north
rule to LSH banding over MinHash signatures plus exact-signature keys.

Scale design (100 TB):
  * Everything downstream of the signature stage is keyed by 8-byte
    surrogates: `id = xxhash64(url)` for documents, `block_key =
    xxhash64(band parts)` for blocks — band rows, candidate pairs, and CC
    rounds shuffle longs, never url or "band:hash" strings.
  * Exact duplicates are collapsed BEFORE fuzzy blocking: one representative
    per text_sha256 enters LSH. A boilerplate page copied 10^6 times would
    otherwise explode one band bucket into 10^12 candidate pairs; after
    collapse it is ONE row. This mirrors the reference's cascade (cheap
    equality before expensive compare) and is the single biggest pair-count
    lever. Representatives are a LEAN projection (id, url, host,
    first_line, bands) — the full text / minhash never ride the
    representative aggregation; scoring re-attaches them from the
    signatures table by id.
  * The exact-group operators are TRUE hash aggregations: the group root
    is selected by `min(id)` — an 8-byte long aggregation buffer, which
    HashAggregateExec can hold, so the plan shows HashAggregate and no
    Sort (docs/PLANS.md "Exact collapse"). Round-3 used min_by(..., url);
    var-length (string/struct) buffers silently fall back to
    SortAggregate + a per-partition corpus Sort — the avoidable corpus
    sort at 100 TB. The representative row is recovered by a long-keyed
    hash join on id = root_id; the min-URL output contract survives
    unchanged because cluster ids are rewritten to min(url) exactly once,
    in cluster.propagate_to_members, whose urls ride exact_group_map.
    Determinism is preserved: id = xxhash64(url) is a fixed function of
    url.
  * prune_blocks groups each block's member ids into ONE row (collect_list
    after the HAVING>1 filter): block sizes, singleton pruning, AND salting
    of oversized blocks all happen in-row on that grouped form — one
    shuffle of the band stream total. Round-2 shuffled the band stream
    three times (size agg, join-back, self-join) and ran a block_key
    self-join; the grouped form generates each block's id pairs with two
    nested explodes instead (same pair set, half the generated rows, no
    join machinery).
  * Oversized blocks (distinct texts sharing a band, power-law boilerplate)
    are hash-split to max_block_size sub-arrays in-row and the overflow is
    COUNTED, never silently dropped — callers read `blocks_capped` metrics.
    The block key participates in the salt hash, so the same pair is split
    INDEPENDENTLY across different oversized bands and near-dup recall is
    preserved by the other 31 bands / title key with high probability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_MAX_BLOCK = 512


def _first_line(text_col):
    return F.substring_index(text_col, "\n", 1)


def exact_roots(sig: DataFrame) -> DataFrame:
    """(text_sha256, root_id) — root_id = min(id) of each identical-text
    group. min over an 8-byte long buffer => a TRUE HashAggregate with
    map-side partial agg and NO sort (min_by/min(url) carry var-length
    buffers that force a SortAggregate fallback — the round-3 corpus sort).
    Deterministic: id = xxhash64(url), so min(id) is a fixed function of
    the group's url set. Shared by exact_group_map and
    exact_representatives — callers that need both should materialize this
    once (lazy localCheckpoint) so the corpus aggregates once."""
    return sig.groupBy("text_sha256").agg(F.min("id").alias("root_id"))


def exact_representatives(sig: DataFrame,
                          roots: DataFrame | None = None) -> DataFrame:
    """One LEAN row per distinct text_sha256 — the min-id member:
    (text_sha256, id, url, host, first_line, bands).

    Plan shape: HashAggregate(min(id)) + a long-keyed hash join that
    recovers the representative's row (id = root_id) — no corpus sort.
    first_line is computed BEFORE any shuffle so the full text never rides
    one (title_blocks needs only the first line).

    The root-id side is broadcast AT PLAN TIME (round 6): it is a bare
    8-byte-long column (~8 MB per 10^6 distinct texts), while the lean
    side still carries bands/url/host (~400 B/row) — left to the
    planner's size estimate, the join flips to sort-merge once the
    aggregated roots outgrow the broadcast threshold and the ENTIRE lean
    corpus is exchanged on id: measured 2.4 GiB of shuffle appearing
    between the 3.2M- and 6.4M-page constant-family rehearsals, the
    single largest super-linear step (OPTIMIZATION_r06.md). Bound: the
    id set must fit a broadcast relation (512M rows / 8 GB); past that,
    drop the hint and the join degrades to the sort-merge exchange —
    the same documented bound as the scoring attach pre-filters."""
    lean = sig.select(
        "text_sha256", "id", "url", "host",
        _first_line(F.col("text")).alias("first_line"), "bands",
    )
    if roots is None:
        roots = exact_roots(sig)
    return lean.join(
        F.broadcast(roots.select(F.col("root_id").alias("id"))), "id"
    )


def exact_group_map(sig: DataFrame,
                    roots: DataFrame | None = None) -> DataFrame:
    """(url, root_id) where root_id = min(id) of the identical-text group
    (root_id == id for unique texts). The root is also the representative
    that entered fuzzy blocking, so fuzzy cluster labels propagate to all
    exact copies with ONE join, and the url rides the join that finds the
    root — exact-dup stars never enter the CC loop (a boilerplate page
    with 10^6 copies would otherwise drag a 10^6-arm star through every
    iteration)."""
    if roots is None:
        roots = exact_roots(sig)
    return (
        sig.select("url", "text_sha256")
        .join(roots, "text_sha256")
        .select("url", "root_id")
    )


def lsh_blocks(reps: DataFrame) -> DataFrame:
    """Explode precomputed LSH band keys -> (block_key, id). block_key =
    xxhash64(band_index, band_hash) — an 8-byte long; hashing the band
    index in keeps different bands in disjoint key spaces. Pure JVM: the
    band hashes were computed inside the signature UDF pass."""
    bands = reps.select(
        "id",
        F.posexplode(F.col("bands")).alias("band_id", "band_hash"),
    )
    return bands.select(
        F.xxhash64(F.col("band_id"), F.col("band_hash")).alias("block_key"),
        "id",
    )


def title_blocks(reps: DataFrame) -> DataFrame:
    """Exact key on (host, first text line): near-dups overwhelmingly share
    their title, and LSH recall sags near the decision boundary. Analog of
    the reference's secondary exact key (ext within dimension groups,
    main.rs:376). All built-in expressions — stays in codegen. The literal
    marker keeps title keys out of the band-key hash space. `reps` carry
    first_line (exact_representatives)."""
    return reps.select(
        F.xxhash64(F.lit("title"), F.col("host"), F.col("first_line"))
        .alias("block_key"),
        "id",
    )


def all_blocks(reps: DataFrame) -> DataFrame:
    """Union of LSH band keys and host+title exact keys (UNION set op,
    SURVEY.md §2.1); candidate dedup happens after pair generation."""
    return lsh_blocks(reps).unionByName(title_blocks(reps))


DEFAULT_HOT_BOUND = 1 << 16  # pre-salt keys above ~64k members (≈512 KB/row)
HOT_SAMPLE_MOD = 128         # deterministic 1/128 member sample for detection


def hot_key_census(blocks: DataFrame, hot_bound: int) -> DataFrame:
    """(block_key, count) of the keys whose 1/HOT_SAMPLE_MOD member sample
    puts them above ~hot_bound/2 members: what _presalt_hot_keys collects."""
    return (
        blocks.filter(F.pmod(F.xxhash64("id"), F.lit(HOT_SAMPLE_MOD)) == 0)
        .groupBy("block_key").count()
        .filter(F.col("count") * HOT_SAMPLE_MOD >= hot_bound / 2)
    )


def _presalt_hot_keys(blocks: DataFrame, max_block: int, hot_bound: int
                      ) -> tuple[DataFrame, DataFrame | None]:
    """Guard the grouping aggregation against pathological hot keys: the
    collect_list in prune_blocks holds one block per row, so a key with
    10^7+ members (e.g. many distinct short texts sharing identical band
    hashes) would build a multi-hundred-MB aggregation buffer/row.

    Detection is a deterministic 1/128 member sample (pmod(xxhash64(id)))
    — one cheap scan of the band stream (callers materialize `reps` so
    the scan is explode-only) feeding a map-side-combined count agg whose
    shuffle is ~the sampled row count, NOT the full stream. Keys whose
    estimated size exceeds hot_bound/2 are pre-salted ROW-LEVEL, before
    any grouping, into ~max_block-sized sub-keys with the same
    decorrelated hash (block_key participates, so different hot bands
    split the same pair independently — identical semantics to the
    in-row salting, applied one stage earlier). Binomial tails at the
    defaults: a key at hot_bound has P(miss) < 1e-30; a key under
    hot_bound/4 has P(false flag) < 1e-20 — and a false flag only splits
    a key that the in-row salter would split anyway or costs bounded
    recall on one block, counted in metrics either way.

    Returns (possibly rewritten blocks, hot-key metrics rows or None).
    Hot keys are collected to the driver: each is ≥ hot_bound members, so
    at most |stream|/hot_bound keys exist (~thousands at 100 TB) — bounded
    driver state, like an AQE skew-join's per-partition stats."""
    sampled = hot_key_census(blocks, hot_bound).collect()
    if not sampled:
        return blocks, None
    spark = blocks.sparkSession
    # key-opaque: the broadcast frame reuses the stream's own block_key
    # type (the pipeline uses 8-byte longs; the generic API also accepts
    # e.g. string-keyed experimental streams — xxhash64 salts any type)
    key_type = blocks.schema["block_key"].dataType.simpleString()
    hot = spark.createDataFrame(
        [(r["block_key"],
          int(-(-r["count"] * HOT_SAMPLE_MOD // max_block)),
          int(r["count"] * HOT_SAMPLE_MOD)) for r in sampled],
        f"block_key {key_type}, _nsalt int, _est long",
    )
    # the salted key is cast back to the stream's own key type so the
    # when/otherwise branches agree (ANSI coercion would otherwise cast a
    # STRING key to BIGINT at runtime and fail on non-numeric keys)
    salted_key = F.xxhash64(
        F.col("block_key"),
        F.pmod(F.xxhash64(F.col("block_key"), F.col("id")),
               F.col("_nsalt").cast("long")),
    ).cast(blocks.schema["block_key"].dataType)
    rewritten = (
        blocks.join(F.broadcast(hot.select("block_key", "_nsalt")),
                    "block_key", "left")
        .select(
            F.when(F.col("_nsalt").isNull(), F.col("block_key"))
            .otherwise(salted_key).alias("block_key"),
            "id",
        )
    )
    metrics = hot.select(
        "block_key",
        F.col("_est").alias("block_size"),
        F.lit(max_block).alias("salt_target"),
    )
    return rewritten, metrics


def prune_blocks(blocks: DataFrame, max_block: int = DEFAULT_MAX_BLOCK,
                 hot_bound: int | None = None) -> tuple[DataFrame, DataFrame]:
    """(block_key, id) stream -> grouped (block_key, ids array<long>) rows
    with singleton blocks dropped (HAVING count>1, reference
    main.rs:418-421) and oversized blocks SALTED: a block of size
    m > max_block is split deterministically (by hash of block_key AND id)
    into ceil(m/max_block) sub-rows, so no id is dropped but per-block pair
    count stays O(max_block^2) (statistical bound — hash placement, not
    rank balancing). Returns (grouped_blocks, salt_metrics) — every salted
    block is REPORTED, never silent (SURVEY.md §4.3.1).

    Scale shape: ONE shuffle of the band stream (the map-side-combinable
    collect_list agg); sizes, the HAVING filter, and the salt split are
    all in-row expressions on the grouped result. The sub-block split is a
    higher-order filter per salt — O(n_salts * m) per oversized block,
    JVM-side.

    hot_bound (optional): pre-salt keys with more than ~hot_bound members
    ROW-LEVEL before the grouping, so no aggregation row ever holds more
    than ~hot_bound ids (see _presalt_hot_keys — the 100 TB OOM guard;
    costs one cheap sampled scan of the band stream). The pipeline enables
    it; small exploratory callers default to off.
    """
    hot_metrics = None
    if hot_bound is not None:
        blocks, hot_metrics = _presalt_hot_keys(blocks, max_block, hot_bound)
    grouped = (
        blocks.groupBy("block_key")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
        # three consumers (small/big split + salt metrics) — materialize
        # the multi-member groups once (lazy; far smaller than the band
        # stream: singletons are already gone)
        .localCheckpoint(eager=False)
    )
    small = grouped.filter(F.size("ids") <= max_block).select(
        "block_key", "ids")
    big = grouped.filter(F.size("ids") > max_block)
    n_salts = F.ceil(F.size("ids") / F.lit(max_block)).cast("int")
    sub = F.transform(
        F.sequence(F.lit(0), n_salts - 1),
        lambda s: F.filter(
            F.col("ids"),
            lambda x: F.pmod(F.xxhash64(F.col("block_key"), x),
                             n_salts.cast("long")) == s.cast("long"),
        ),
    )
    # singleton sub-arrays stay (they generate no pairs but keep the
    # "salting repartitions members, never discards them" invariant exact)
    salted = big.select("block_key", F.explode(sub).alias("ids"))
    salt_metrics = big.select(
        "block_key",
        F.size("ids").cast("long").alias("block_size"),
        F.lit(max_block).alias("salt_target"),
    )
    if hot_metrics is not None:
        salt_metrics = salt_metrics.unionByName(hot_metrics)
    return small.unionByName(salted), salt_metrics
