"""Connected components over the match-edge DataFrame (north-rule C1).

The reference never needs CC: hash-equality matching is transitive, so
groups are clusters (/root/reference/src/main.rs:616-624). Fuzzy matching
breaks transitivity, hence transitive closure here.

Algorithm: LABEL CONTRACTION with per-level path compression (the
star-hooking + pointer-jumping family of MapReduce CC algorithms recast
as levels of graph contraction). Each level (a) HOOKS every node to
min(self, neighbors) — a forest, since every hook points strictly down —
(b) POINTER-JUMPS the hook table to fixpoint (label <- label(label),
O(log tree-depth) cheap label self-joins), labeling each node with its
hook-tree root, then (c) rebuilds the edge set BETWEEN ROOTS and recurses
on the contracted graph. Final labels compose the per-level mappings
coarse-to-fine. Once the contracted graph is small (driver_finish_edges)
the tail runs as exact driver-side union-find.

Why contraction instead of round-2's hash-to-min + pointer jumping: dedup
components are near-cliques, so the first min-labeling collapses almost
everything and the level-1 contracted graph is tiny — per-level shuffle
volume is ~6|E_level| and |E| drops by orders of magnitude after level 0,
where hash-to-min re-propagated over the FULL symmetrized edge table every
round (~16|E| total with the confirmation round). At 400k pages the CC
stage was the largest shuffle producer in the pipeline; contraction
roughly halves it. Near-clique dedup graphs converge in ~3 levels with
one jump each; a pure chain resolves in ONE level via the jump loop
(without compression, hooking shortens a chain by one edge per level —
measured, see the loop comment). The termination check reads the count
of the already-materialized contracted edge set, not an extra
propagation round.

Correctness invariants (tested against a union-find oracle and under
repartitioning): (1) same-label nodes are connected (label ∈ {self} ∪
neighbors); (2) the contracted graph of a connected component is
connected, so a component never terminates with two labels; (3) the
component minimum always labels itself, so the terminal label IS the
minimum member — cluster_id = min member id, deterministically.

The node type is whatever the edge columns carry — the pipeline feeds
8-byte surrogate ids (longs), so every CC level shuffles longs; url
strings come back once, after the loop, on the exact group map
(url, root_id) that propagate_to_members joins the labels onto.

No GraphFrames dependency — plain joins + groupBy;
`localCheckpoint()` per level truncates lineage (SURVEY.md §4.3.2).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F


DRIVER_FINISH_EDGES = 500_000  # contracted-edge count below which the
# tail of the CC loop runs as driver-side union-find (~8 MB of longs;
# bounded driver state, like a broadcast dim table). Raised 100k -> 500k
# in round 6: a distributed contraction level is ~24 driver-synchronized
# jobs (AQE stage jobs + the jump loop) whose scheduling latency alone is
# >1 s, while union-find over 500k 16-byte edges collects in ~0.2 s and
# runs in microseconds — measured on the 50k-page bench input, whose
# ~110k-edge match graph sat just above the old bound and paid a full
# distributed level for nothing.


def connected_components(edges: DataFrame, max_iter: int = 25,
                         stats: dict | None = None,
                         driver_finish_edges: int = DRIVER_FINISH_EDGES
                         ) -> DataFrame:
    """edges(src,dst) -> labels(node, cluster_id), cluster_id = min member
    (by the node type's ordering — longs for the pipeline's surrogate ids).

    Only nodes that appear in an edge are returned (singletons are added by
    the caller if desired). Pass `stats` to receive {"input_edges": n,
    "levels": k, "mappings": m, "driver_finish": bool}. `levels` counts
    DISTRIBUTED contraction levels only (the scale-rehearsal metric:
    levels grow O(log diameter), so a jump flags a structural change in
    the match graph, not just more data — comparable between
    driver_finish on/off runs); `mappings` additionally counts the
    driver-finish tail mapping when it ran (m == k + driver_finish).
    Job descriptions are `cc:*` inside and the caller's on return.

    Tail handling: level 0 collapses near-clique dedup components, so the
    level-1 contracted graph is typically orders of magnitude smaller than
    the input. Once the contracted edge count (known for free — the level
    output is materialized for the convergence check) drops below
    `driver_finish_edges`, the remaining levels run as ONE driver-side
    union-find over ~16-byte edge rows instead of 2-3 more rounds of
    cluster-wide joins whose serial latency dominates their work. Same
    labels by construction (union-find is exact and uses the same
    min-label rule); driver memory is bounded by the threshold.
    driver_finish_edges=0 disables (pure distributed — the equivalence is
    unit-tested against it).
    """
    sc = edges.sparkSession.sparkContext
    outer_desc = sc.getLocalProperty("spark.job.description")
    # materialize the edge list once: its lineage may carry the whole
    # scoring UDF chain, and each level consumes it three times. The
    # current edge count decides each level (a graph that already fits
    # the driver-finish budget gains nothing from a distributed level);
    # like every later level's, it is observed on the materializing job.
    sc.setJobDescription("cc:edges")
    obs_n = Observation("cc_edges_n")
    cur = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .observe(obs_n, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_edges = int(obs_n.get["n"])
    if stats is not None:
        stats["input_edges"] = n_edges
    mappings: list[DataFrame] = []
    used_driver_finish = False
    for level in range(max_iter):
        if n_edges == 0:
            break
        if n_edges <= driver_finish_edges:
            # exact tail: union-find over the (contracted) label graph
            from ..functions.ccore import connected_components as uf_cc

            sc.setJobDescription("cc:driver_finish")
            uf = uf_cc([(r["src"], r["dst"]) for r in cur.collect()])
            # built from pandas (Arrow), the mapping is a LocalRelation
            # whose exact size the planner sees, so a join onto it is a
            # broadcast from the start rather than a shuffle of it that
            # adaptive execution may or may not re-plan in time
            mappings.append(edges.sparkSession.createDataFrame(
                pd.DataFrame(list(uf.items()), columns=["node", "label"]),
                schema=cur.select(F.col("src").alias("node"),
                                  F.col("dst").alias("label")).schema))
            used_driver_finish = True
            break
        sc.setJobDescription(f"cc:level{level}")
        sym = cur.select(
            F.col("src").alias("node"), F.col("dst").alias("nbr")
        ).union(cur.select(
            F.col("dst").alias("node"), F.col("src").alias("nbr")))
        # min(self, neighbors): the level's hook mapping. No distinct on
        # sym — duplicate (node, nbr) rows cannot change a min.
        # Hooks form a forest (each node points to a strictly smaller
        # node or itself), so POINTER-JUMPING to fixpoint — label <-
        # label(label), doubling the compressed distance per jump —
        # resolves every hook tree to its root in O(log depth) cheap
        # label-table self-joins. Without compression, hooking alone
        # shortens a chain component by only ONE edge per contraction
        # level (measured: a 200-edge path contracted 196, 194, 192...),
        # i.e. O(diameter) levels; with it a pure path resolves in a
        # single level. Near-clique dedup components converge in one
        # jump, so the steady-state overhead is one join + one count per
        # level.
        lab = sym.groupBy("node").agg(
            F.least(F.col("node"), F.min("nbr")).alias("label")
        ).localCheckpoint()
        for _jump in range(40):
            # carry the old label through the jump so convergence reads
            # off the SAME materialization — no extra join/job per jump.
            # The moved-row count is OBSERVED during the checkpoint
            # materialization (CollectMetrics rides the job; verified to
            # fire on localCheckpoint), so convergence costs zero extra
            # driver round-trips.
            obs = Observation(f"cc_l{level}_j{_jump}")
            jumped = (
                lab.join(
                    lab.select(F.col("node").alias("label"),
                               F.col("label").alias("_l2")),
                    "label", "left")
                .select("node",
                        F.coalesce("_l2", "label").alias("label"),
                        (F.coalesce("_l2", "label") != F.col("label"))
                        .alias("_moved"))
                .observe(obs, F.sum(F.col("_moved").cast("long"))
                         .alias("moved"))
                .localCheckpoint()
            )
            # observe() accumulators are not exactly-once: a retried or
            # speculative task can over-count. An inflated `moved` only
            # costs one extra jump; labels are unaffected.
            moved = bool(obs.get["moved"] or 0)
            lab = jumped.drop("_moved")
            if not moved:
                break
        mappings.append(lab)
        # contracted-edge count observed on the same materialization
        obs_n = Observation(f"cc_l{level}_n")
        nxt = (
            cur.join(lab.withColumnsRenamed(
                {"node": "src", "label": "_ls"}), "src")
            .join(lab.withColumnsRenamed(
                {"node": "dst", "label": "_ld"}), "dst")
            .select(F.col("_ls").alias("src"), F.col("_ld").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .observe(obs_n, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        # may over-count under task retries (see `moved` above): a spurious
        # count > driver_finish_edges only keeps the next level
        # distributed, and the contracted edges themselves are exact
        n_edges = int(obs_n.get["n"])
        cur = nxt
    if stats is not None:
        stats["driver_finish"] = used_driver_finish
        # distributed contraction levels only — the driver-finish tail is
        # not a contraction level, so the metric stays comparable between
        # driver_finish on/off runs
        stats["levels"] = len(mappings) - (1 if used_driver_finish else 0)
        stats["mappings"] = len(mappings)
    # compose coarse-to-fine: final(node) = m_k(... m_1(node)). Labels
    # absent from the coarser map (their component already terminal) pass
    # through via the left join + coalesce. No mapping = no edges: the
    # (empty) edge list is the (empty) labels frame.
    sc.setJobDescription("cc:compose")
    final = (mappings[-1] if mappings else cur.select(
        F.col("src").alias("node"), F.col("dst").alias("label")))
    for lab in reversed(mappings[:-1]):
        coarse = final.select(F.col("node").alias("label"),
                              F.col("label").alias("_l2"))
        final = (
            lab.join(coarse, "label", "left")
            .select("node", F.coalesce("_l2", "label").alias("label"))
            .localCheckpoint()
        )
    sc.setJobDescription(outer_desc)
    return final.select("node", F.col("label").alias("cluster_id"))


def propagate_to_members(rep_labels: DataFrame, ex_map: DataFrame
                         ) -> DataFrame:
    """Combine fuzzy CC labels over representatives with exact groups —
    the ONE place the fuzzy path touches url strings.

    rep_labels: (node=id, cluster_id=id-label) from connected_components
    over representative ids.
    ex_map: (url, root_id) from blocking.exact_group_map — root_id is the
    exact-group min-id member AND the representative that entered fuzzy
    blocking (min(id) keeps the roots agg a true HashAggregate; the
    min-URL output contract is applied below, not at root selection).

    Label id per url = CC label of its root if the root was fuzzy-matched,
    else the root itself (one left join); the label is then REWRITTEN to
    min(url) of the cluster (hash agg + join — no window sort) so the
    output contract (cluster_id = lexicographic min member url, reference
    main.rs:310-315) is independent of how ids order. Urls whose final
    cluster has a single member are dropped (duplicate groups have >= 2,
    main.rs:418-421).

    The labeled rows feed both the min-url aggregation and the final label
    join, so they are materialized once via lazy localCheckpoint; without
    it the planner re-plans (and re-shuffles) the whole subtree per
    consumer (OPTIMIZATION_r06.md).
    """
    labeled = (
        ex_map.join(rep_labels.withColumnsRenamed(
            {"node": "root_id", "cluster_id": "_cc"}), "root_id", "left")
        .select("url", F.coalesce("_cc", "root_id").alias("label_id"))
        .localCheckpoint(eager=False)
    )
    # one aggregation computes the min-url label AND the >=2-member filter
    groups = (
        labeled.groupBy("label_id")
        .agg(F.min("url").alias("cluster_id"), F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .select("label_id", "cluster_id")
    )
    return labeled.join(groups, "label_id").select("url", "cluster_id")


def clusters_with_members(labels: DataFrame) -> DataFrame:
    """clusters report rows: (cluster_id, urls sorted, n) — reference
    output analog (DuplicateGroup, main.rs:38-42; sorted members 630)."""
    return (
        labels.groupBy("cluster_id")
        .agg(F.sort_array(F.collect_list("url")).alias("urls"),
             F.count("*").alias("n"))
        .orderBy("cluster_id")
    )
