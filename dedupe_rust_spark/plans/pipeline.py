"""End-to-end dedup pipeline: staged DataFrames with checkpointed outputs,
per-partition lineage metrics, and resume-by-run_id.

Stage graph (SURVEY.md §3.3):
  read pages -> extract+signatures [ckpt] -> exact edges
             -> lsh blocks -> candidate pairs [ckpt] -> scores [ckpt]
             -> edges (fuzzy ∪ exact) -> connected components -> clusters [ckpt]
             -> metrics [append]

Each checkpoint is a parquet dir `out/<stage>/run_id=<R>/` (Iceberg-style
partition layout; no Iceberg runtime jar in this sandbox — swap the writer
format on a cluster that has one). A stage whose output dir has _SUCCESS is
SKIPPED on rerun with the same run_id: that is the resumability contract
(north rule), tested in tests/test_resume.py.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import ALGO_VERSION
from ..operators import blocking, candidates as cand, cluster, scoring, signatures as sigs
from ..sources.pages import clean_pages, read_pages


@dataclass
class PipelineConfig:
    lev_match: float = scoring.LEV_MATCH
    jaccard_match: float = scoring.JACCARD_MATCH
    max_block: int = blocking.DEFAULT_MAX_BLOCK
    # row-level pre-salt guard for pathological hot band keys (bounds the
    # largest grouping-aggregation row; see blocking._presalt_hot_keys).
    # None disables detection (and its extra sampled scan of the stream).
    hot_block_bound: int | None = blocking.DEFAULT_HOT_BOUND
    # hybrid candidate generation: blocks > this size emit hub stars
    # instead of full cliques (meta-blocking comparison pruning — see
    # candidates.candidate_pairs). None = exhaustive cliques everywhere.
    star_min_block: int | None = cand.DEFAULT_STAR_MIN_BLOCK
    # LSH band count over the fixed k=128 MinHash (None = sigcore default
    # 32x4). The 24x5/16x8 sweep is recorded in BENCH/BASELINE.md; 32x4
    # stays the default for boundary recall (threshold curve at j=0.5).
    lsh_bands: int | None = None
    simhash_prefilter: bool = True
    max_hamming: int = cand.SIMHASH_HAMMING_MAX
    use_golden_text: bool = False
    exclude_hosts: list[str] = field(default_factory=list)
    # jw never participates in is_match (lev OR jaccard); computing it for
    # every slow-path pair was pure dead CPU in the hottest UDF. Opt in for
    # analysis runs that want the column populated.
    compute_jw: bool = False
    # checkpoints=False is the throughput fast path: stages fuse into a
    # handful of jobs (no per-stage materialization/count, no per-partition
    # lineage, no cap census). Same results; resumability and fine-grained
    # metrics are OFF — use for benches, not production runs.
    checkpoints: bool = True
    # corpus-row threshold for the scoring attach semi pre-filter
    # (scoring.attach_estimates/score_estimated prefilter flag): below it
    # the whole minhash/text projection fits the session's 64 MB broadcast
    # threshold (~400 B per attach row -> ~150k rows), the attach joins
    # broadcast sig directly, and the pre-filter's distinct +
    # broadcast-build jobs are pure serial latency; at/above it the
    # pre-filter is what keeps the attach from shuffling the corpus
    # (measured at the 3.2M-page rehearsal). Scale-adaptive, not
    # local-tuned: the decision input is the corpus row count the
    # signatures stage already measures. Outputs identical either way
    # (the pre-filter is a pure filter).
    attach_prefilter_rows: int = 150_000


def _audit_ids(sig: DataFrame) -> int:
    """Fail fast on an xxhash64(url) surrogate-key collision (two distinct
    urls, one id -> silently merged clusters). Returns the colliding-id
    count (always 0 when it returns — nonzero raises); callers record it
    so the audit's result is observable in metrics, not just by absence
    of an exception.

    Single-pass form: per id, compare min/max of an INDEPENDENT second
    hash of the url (salted xxhash64 — an 8-byte buffer, so the agg stays
    a map-side-combinable HashAggregate; min/max of the url string itself
    would fall back to SortAggregate, and two exact countDistincts cost an
    Expand x2 over the corpus). An id carrying >= 2 distinct urls shows
    min != max unless the second hash collides for the same pair too
    (P ~ 2^-64, independent of the audited hash). ONE job either way:
    count() the tiny post-filter agg and branch on it (the round-4 form
    ran isEmpty() then a second count() job on failure)."""
    h2 = F.xxhash64(F.col("url"), F.lit(0x9E3779B9))
    bad = (
        sig.select("id", h2.alias("_h2"))
        .groupBy("id")
        .agg(F.min("_h2").alias("_a"), F.max("_h2").alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
    )
    n = bad.count()
    if n:
        raise RuntimeError(
            f"xxhash64(url) collision on {n} surrogate id(s); "
            "use a wider surrogate key")
    return n


def dedup_clusters(pages: DataFrame, cfg: PipelineConfig | None = None
                   ) -> DataFrame:
    """The full fuzzy dedup dataflow on an in-memory DataFrame — same stage
    composition as DedupPipeline.run() but checkpoint-free, for catalog /
    invariant queries that derive `pages` from the driver's tables instead
    of a parquet dir. Returns labels (url, cluster_id), clustered rows only.
    """
    cfg = cfg or PipelineConfig(checkpoints=False)
    # same under-parallel guard as DedupPipeline.signatures: catalog-derived
    # pages are 1-3 splits, so the signature UDF would run on 1-3 tasks; a
    # real corpus scan is already parallel and skips the shuffle (the split
    # count is parquet footer metadata, no job runs)
    par = pages.sparkSession.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < 2 * par:
        pages = pages.repartition(2 * par)
    sig = sigs.signatures(sigs.extract(pages, cfg.use_golden_text),
                          cfg.lsh_bands)
    sig = sig.localCheckpoint()  # consumed by 4 downstream subtrees
    _audit_ids(sig)  # unconditional fail-fast (signatures.py contract)
    # the min(id) roots agg (one HashAggregate over the corpus) feeds both
    # the group map and the representatives — materialize it once
    roots = blocking.exact_roots(sig).localCheckpoint(eager=False)
    ex_map = blocking.exact_group_map(sig, roots)
    reps = blocking.exact_representatives(sig, roots)
    if cfg.hot_block_bound is not None:
        # hot-key detection scans the band stream twice (sample + group):
        # materialize the reps join once so the second pass is explode-only
        reps = reps.localCheckpoint(eager=False)
    pruned, _ = blocking.prune_blocks(blocking.all_blocks(reps),
                                      cfg.max_block, cfg.hot_block_bound)
    pairs = cand.candidate_pairs(pruned, keep_block_key=False,
                                 star_min_block=cfg.star_min_block)
    if cfg.simhash_prefilter:
        pairs = cand.simhash_prefilter(pairs, sig, cfg.max_hamming)
    scores = scoring.score_candidates(pairs, sig, cfg.lev_match,
                                      cfg.jaccard_match, cfg.compute_jw)
    rep_labels = cluster.connected_components(scoring.match_edges(scores))
    return cluster.propagate_to_members(rep_labels, ex_map,
                                        sig.select("id", "url"))


class DedupPipeline:
    def __init__(self, spark: SparkSession, pages_dir: str,
                 out_dir: str | None = None, run_id: str | None = None,
                 config: PipelineConfig | None = None):
        self.spark = spark
        self.pages_dir = pages_dir
        self.out_dir = out_dir
        self.run_id = run_id or f"v{ALGO_VERSION}"
        self.cfg = config or PipelineConfig()
        self.stage_metrics: list[dict] = []

    @property
    def cfg_fingerprint(self) -> str:
        """Checkpoint outputs bake in config values (thresholds, caps,
        prefilter) — a rerun under the same run_id but a different config
        must NOT silently reuse stale stage parquet. The fingerprint keys
        the checkpoint path on everything that changes stage outputs."""
        import hashlib
        import json

        c = self.cfg
        payload = json.dumps(
            {
                "algo": ALGO_VERSION,
                "lev": c.lev_match, "jacc": c.jaccard_match,
                "max_block": c.max_block,
                "hot_bound": c.hot_block_bound,
                "star_min": c.star_min_block,
                "lsh_bands": c.lsh_bands,
                "prefilter": c.simhash_prefilter, "hamming": c.max_hamming,
                "golden": c.use_golden_text,
                "exclude": sorted(c.exclude_hosts),
                "jw": c.compute_jw,
            },
            sort_keys=True,
        )
        return hashlib.blake2b(payload.encode(), digest_size=4).hexdigest()

    # ------------------------------------------------------------ checkpoints
    def _ckpt_path(self, stage: str) -> str | None:
        if self.out_dir is None:
            return None
        return os.path.join(self.out_dir, stage, f"run_id={self.run_id}",
                            f"cfg={self.cfg_fingerprint}")

    def _checkpoint(self, df: DataFrame, stage: str) -> DataFrame:
        """Write stage output and read it back (cuts lineage + resumable).
        Without out_dir, fall back to localCheckpoint (tests/bench)."""
        self.spark.sparkContext.setJobDescription(f"stage:{stage}")
        if not self.cfg.checkpoints and stage == "scores":
            # fast path: scores has exactly one downstream consumer (the
            # edge list) — let it fuse into that job
            return df
        if not self.cfg.checkpoints and stage == "clusters":
            # small result, >=2 consumers (metrics count + caller): one
            # cheap materialization, no parquet round-trip. Timed — this
            # is where the lazy propagate/relabel dataflow actually runs.
            t0 = time.monotonic()
            out = df.localCheckpoint()
            self.stage_metrics.append(
                {"stage": "clusters", "rows_out": -1, "run_id": self.run_id,
                 "wall_ms": int((time.monotonic() - t0) * 1000)})
            return out
        path = self._ckpt_path(stage)
        t0 = time.monotonic()
        if path is None:
            out = df.localCheckpoint()
            n = out.count()
            resumed = False
        else:
            resumed = os.path.exists(os.path.join(path, "_SUCCESS"))
            if not resumed:
                df.write.mode("overwrite").parquet(path)
            out = self.spark.read.parquet(path)
            n = out.count()
        self.stage_metrics.append(
            {"stage": stage, "rows_out": n,
             "wall_ms": int((time.monotonic() - t0) * 1000),
             "run_id": self.run_id, "resumed": resumed}
        )
        return out

    def _stage_done(self, stage: str) -> bool:
        path = self._ckpt_path(stage)
        return bool(path) and os.path.exists(os.path.join(path, "_SUCCESS"))

    def _read_stage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._ckpt_path(stage))

    # ---------------------------------------------------------------- stages
    def signatures(self) -> DataFrame:
        if self._stage_done("signatures"):
            df = self._read_stage("signatures")
            self.stage_metrics.append({"stage": "signatures", "resumed": True,
                                       "rows_out": df.count(), "wall_ms": 0,
                                       "run_id": self.run_id})
            return df
        pages = clean_pages(read_pages(self.spark, self.pages_dir),
                            self.cfg.exclude_hosts)
        # The synthetic pages table is one small parquet file -> one input
        # split -> the extraction UDF would run on a single task. Spread it
        # across the cluster — but ONLY when the scan is actually
        # under-parallel: an unconditional repartition here would shuffle
        # the ENTIRE page corpus (html included) on a real 100 TB table
        # whose scan already yields tens of thousands of splits. The scan
        # split count is known before any job runs (parquet footer
        # metadata), so this check is free.
        par = self.spark.sparkContext.defaultParallelism
        if pages.rdd.getNumPartitions() < 2 * par:
            pages = pages.repartition(2 * par)
        extracted = sigs.extract(pages, self.cfg.use_golden_text)
        sig = sigs.signatures(extracted, self.cfg.lsh_bands)
        return self._checkpoint(sig, "signatures")

    def run(self) -> DataFrame:
        """Full pipeline; returns clusters(url, cluster_id), clustered rows only."""
        t_all = time.monotonic()
        sig = self.signatures()

        if self.cfg.checkpoints:
            # per-partition lineage for the extract stage (north rule): rows
            # per partition + drop accounting, written into metrics
            self._partition_lineage(sig, "signatures")
        # surrogate-id collision audit — UNCONDITIONAL (fast path included):
        # a collision would silently merge clusters, so every run is
        # gated on it, matching the signatures.py docstring claim. One
        # agg over the already-materialized sig (~0.1 s at 400k). Round 6:
        # the audit job is submitted from a driver THREAD (guide §2.6 —
        # concurrent jobs back-fill executors) so its wall overlaps the
        # blocking/candidates stages instead of adding a serial barrier;
        # the future is resolved (raising on any collision) BEFORE
        # clusters are returned, so no corrupt result can ever be
        # observed — "fail fast" becomes "fail before any output".
        from concurrent.futures import ThreadPoolExecutor

        def _audit() -> tuple[int, int]:
            t0 = time.monotonic()
            self.spark.sparkContext.setJobDescription("stage:id_audit")
            n = _audit_ids(sig)
            self.spark.sparkContext.setJobDescription(None)
            return n, int((time.monotonic() - t0) * 1000)

        audit_pool = ThreadPoolExecutor(max_workers=1)
        # an abandoned future would leave the worker thread (and its audit
        # job) running until interpreter exit if a stage below raises
        try:
            audit_future = audit_pool.submit(_audit)

            roots = blocking.exact_roots(sig).localCheckpoint(eager=False)
            ex_map = blocking.exact_group_map(sig, roots)
            reps = blocking.exact_representatives(sig, roots)
            if self.cfg.hot_block_bound is not None:
                reps = reps.localCheckpoint(eager=False)
            blocks = blocking.all_blocks(reps)
            pruned, cap_metrics = blocking.prune_blocks(
                blocks, self.cfg.max_block, self.cfg.hot_block_bound)
            if self.cfg.checkpoints:
                t0 = time.monotonic()
                n_salted = cap_metrics.count()
                self.stage_metrics.append(
                    {"stage": "blocks_salted", "rows_out": n_salted,
                     "run_id": self.run_id,
                     "wall_ms": int((time.monotonic() - t0) * 1000)})

            pairs = cand.candidate_pairs(
                pruned, keep_block_key=False,
                star_min_block=self.cfg.star_min_block)
            if self.cfg.simhash_prefilter:
                pairs = cand.simhash_prefilter(pairs, sig,
                                               self.cfg.max_hamming)
            # semi pre-filter of the attach joins only when the corpus is big
            # enough that the un-filtered attach would shuffle it (see
            # PipelineConfig.attach_prefilter_rows); the row count is already
            # measured by the signatures checkpoint — no extra job
            n_sig = next((m["rows_out"] for m in self.stage_metrics
                          if m["stage"] == "signatures"), 0)
            prefilter = n_sig >= self.cfg.attach_prefilter_rows
            # the candidates checkpoint carries the MinHash-Jaccard estimate:
            # one materialization serves both the resume contract and the
            # fast/slow scoring split (both branches read it)
            est = self._checkpoint(
                scoring.attach_estimates(pairs, sig, prefilter), "candidates")

            scores = scoring.score_estimated(est, sig, self.cfg.lev_match,
                                             self.cfg.jaccard_match,
                                             self.cfg.compute_jw,
                                             prefilter=prefilter)
            scores = self._checkpoint(scores, "scores")

            # Transitive closure runs over FUZZY edges between exact-group
            # representatives only; exact copies then inherit their root's
            # label via one join (blocking.exact_group_map). The exact tier can
            # never be lost (F1 floor, SURVEY.md §7e): a group's members always
            # share their root's final label.
            t0 = time.monotonic()
            cc_stats: dict = {}
            rep_labels = cluster.connected_components(
                scoring.match_edges(scores), stats=cc_stats)
            labels = cluster.propagate_to_members(rep_labels, ex_map,
                                                  sig.select("id", "url"))
            self.stage_metrics.append(
                {"stage": "cc_loop", "rows_out": cc_stats.get("levels", -1),
                 "run_id": self.run_id,
                 "wall_ms": int((time.monotonic() - t0) * 1000)})
            # gate on the concurrent id audit BEFORE materializing output:
            # raises on any surrogate collision, so no corrupt clusters can
            # be observed; wall_ms is the audit's own span (overlapped)
            n_bad_ids, audit_ms = audit_future.result()
            self.stage_metrics.append(
                {"stage": "id_audit", "rows_out": n_bad_ids,
                 "run_id": self.run_id, "wall_ms": audit_ms})
        finally:
            audit_pool.shutdown(wait=False, cancel_futures=True)
        clusters = self._checkpoint(labels, "clusters")

        self.stage_metrics.append(
            {"stage": "pipeline", "rows_out": clusters.count(),
             "wall_ms": int((time.monotonic() - t_all) * 1000),
             "run_id": self.run_id})
        self._write_metrics()
        return clusters

    def write_report(self, clusters: DataFrame,
                     max_inline_groups: int = 1000) -> dict:
        """Reference O2 analog: the run report JSON
        (`Results`/`DuplicateGroup`, main.rs:38-49; sorted groups 310-315,
        sorted members 630). The driver collect is CAPPED: totals plus the
        first `max_inline_groups` groups are inlined; the full cluster set
        lives in the clusters parquet (at 100x scale an unbounded group
        list with member URLs is a driver OOM)."""
        import json

        grouped = cluster.clusters_with_members(clusters)
        total_groups = grouped.count()
        groups = grouped.orderBy("cluster_id").limit(max_inline_groups).collect()
        report = {
            "run_id": self.run_id,
            "total_groups": total_groups,
            "groups_inlined": len(groups),
            "groups": [{"urls": list(r["urls"]), "n": r["n"]} for r in groups],
        }
        if self.out_dir is not None:
            path = os.path.join(self.out_dir,
                                f"dedupe_report_{self.run_id}.json")
            with open(path, "w") as f:
                json.dump(report, f, indent=2, sort_keys=True)
        return report

    # --------------------------------------------------------------- metrics
    def _partition_lineage(self, df: DataFrame, stage: str) -> None:
        rows = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .count()
            .collect()
        )
        for r in rows:
            self.stage_metrics.append(
                {"stage": f"{stage}.partition", "partition_id": r["partition_id"],
                 "rows_out": r["count"], "run_id": self.run_id})

    def _write_metrics(self) -> None:
        if self.out_dir is None:
            return
        path = os.path.join(self.out_dir, "metrics", f"run_id={self.run_id}")
        rows = [
            (
                self.run_id,
                m.get("stage", ""),
                int(m.get("partition_id", -1)),
                int(m.get("rows_out", -1)),
                int(m.get("wall_ms", -1)),
            )
            for m in self.stage_metrics
        ]
        mdf = self.spark.createDataFrame(
            rows, "run_id string, stage string, partition_id int, "
                  "rows_out long, wall_ms long"
        ).withColumn("ts", F.current_timestamp())
        mdf.write.mode("append").parquet(path)
