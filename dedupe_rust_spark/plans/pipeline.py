"""End-to-end dedup pipeline: the one composition of the dataflow
(`DedupPipeline.run`), with per-stage row counts and resume-by-run_id.

Stage graph (SURVEY.md §3.3):
  pages (dir or DataFrame) -> clean -> spread -> extract+signatures [stage]
    -> exact collapse -> lsh blocks -> candidate pairs + estimates [stage]
    -> scores [stage] -> connected components -> propagate -> clusters [stage]
    -> metrics [append]
Everything between signatures and clusters is the clusters stage's build
(`DedupPipeline._labels`), so a resumed clusters stage skips all of it.

Every [stage] goes through `DedupPipeline._stage`, whose materialization
policy depends only on `out_dir` and `PipelineConfig.checkpoints`:
  * out_dir set: a parquet dir `out/<stage>/run_id=<R>/cfg=<F>/`
    (Iceberg-style partition layout; no Iceberg runtime jar is bundled —
    swap the writer format on a cluster that has one). A stage
    whose dir has _SUCCESS is read back instead of rebuilt on a rerun with
    the same run_id and config: the resumability contract (north rule),
    tested by tests/test_pipeline_spark.py::test_resume_*.
  * checkpoints=False without out_dir (the throughput fast path): scores,
    whose only consumer is the edge list, stays lazy and fuses into it.
  * otherwise: localCheckpoint, with the row count observed on that same
    job.
"""

from __future__ import annotations

import os
import time
from dataclasses import asdict, dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .. import ALGO_VERSION
from ..functions import scorecore, sigcore
from ..operators import blocking, candidates as cand, cluster, scoring, signatures as sigs
from ..sources.pages import clean_pages, read_pages, spread


@dataclass
class PipelineConfig:
    """What a caller may vary. The match thresholds, refine band, block
    caps and band scheme are module constants (scorecore, blocking,
    sigcore), folded into the checkpoint key by `decision_constants`."""
    # hybrid candidate generation: blocks > this size emit hub stars
    # instead of full cliques (meta-blocking comparison pruning — see
    # candidates.candidate_pairs). None = exhaustive cliques everywhere.
    star_min_block: int | None = cand.DEFAULT_STAR_MIN_BLOCK
    use_golden_text: bool = False
    exclude_hosts: list[str] = field(default_factory=list)
    # checkpoints=False is the throughput fast path: no per-partition
    # lineage, no cap census and, without an out_dir, scores fuses into
    # the edge list. Same results; fine-grained metrics are OFF — use for
    # benches, not production runs. An out_dir still writes (and resumes)
    # every stage as parquet.
    checkpoints: bool = True


def decision_constants() -> dict:
    """The numeric module constants that change what a stage holds, read
    at call time: the match thresholds, refine band width and Levenshtein
    char cap (scorecore), shingle size, MinHash length and band count
    (sigcore), the SimHash prefilter bound and short-text bypass
    (candidates), and the block size cap, hot-key pre-salt bound and its
    sample rate (blocking). Values derived from these at import
    (JACC_REFINE_LO/HI, LSH_ROWS) are not listed; the default star size
    is keyed through its PipelineConfig field. Edits that no number here
    shows (a hash seed, a new code path) need an ALGO_VERSION bump."""
    return {"LEV_MATCH": scorecore.LEV_MATCH,
            "JACCARD_MATCH": scorecore.JACCARD_MATCH,
            "JACC_REFINE_BAND": scorecore.JACC_REFINE_BAND,
            "LEV_CHAR_CAP": scorecore.LEV_CHAR_CAP,
            "SHINGLE_N": sigcore.SHINGLE_N,
            "MINHASH_K": sigcore.MINHASH_K,
            "LSH_BANDS": sigcore.LSH_BANDS,
            "SIMHASH_HAMMING_MAX": cand.SIMHASH_HAMMING_MAX,
            "SHORT_TEXT_BYPASS": cand.SHORT_TEXT_BYPASS,
            "DEFAULT_MAX_BLOCK": blocking.DEFAULT_MAX_BLOCK,
            "DEFAULT_HOT_BOUND": blocking.DEFAULT_HOT_BOUND,
            "HOT_SAMPLE_MOD": blocking.HOT_SAMPLE_MOD}


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


# corpus-row threshold for the scoring attach semi pre-filter
# (scoring.attach_estimates/score_estimated prefilter flag), read by
# DedupPipeline._labels: below it the whole minhash/text projection fits
# the session's 64 MB broadcast threshold (~400 B per attach row -> ~150k
# rows), the attach joins broadcast sig directly, and the pre-filter's
# distinct + broadcast-build jobs are pure serial latency; at/above it the
# pre-filter is what keeps the attach from shuffling the corpus (measured
# at the 3.2M-page rehearsal). Scale-adaptive, not local-tuned: the
# decision input is the corpus row count the signatures stage already
# measures. Outputs identical either way (the pre-filter is a pure filter).
ATTACH_PREFILTER_ROWS = 150_000


class DedupPipeline:
    """`pages` is a pages dir (or parquet file) for `read_pages`, or an
    already-built DataFrame with the pages(url, warc_ts, html, text, lang)
    columns; both go through the same clean -> spread -> extract."""

    def __init__(self, spark: SparkSession, pages: str | DataFrame,
                 out_dir: str | None = None, run_id: str | None = None,
                 config: PipelineConfig | None = None):
        self.spark = spark
        self.pages = pages
        self.out_dir = out_dir
        self.run_id = run_id or f"v{ALGO_VERSION}"
        self.cfg = config or PipelineConfig()
        self.stage_metrics: list[dict] = []

    @property
    def cfg_fingerprint(self) -> str:
        """Checkpoint outputs bake in config and decision values
        (thresholds, caps, bands) — a rerun under the same run_id but a
        different config or an edited decision constant must NOT silently
        reuse stale stage parquet. The fingerprint keys the checkpoint
        path on every PipelineConfig field except `checkpoints` (which
        changes how stages materialize, not what they hold), plus
        ALGO_VERSION and `decision_constants()`; a new field joins the
        key by default, a new constant joins it by being listed there."""
        import hashlib
        import json

        key = asdict(self.cfg)
        del key["checkpoints"]
        key["exclude_hosts"] = sorted(key["exclude_hosts"])
        key["algo"] = ALGO_VERSION
        key["decisions"] = decision_constants()
        payload = json.dumps(key, sort_keys=True)
        return hashlib.blake2b(payload.encode(), digest_size=4).hexdigest()

    # ---------------------------------------------------------------- stages
    def _ckpt_path(self, stage: str) -> str | None:
        if self.out_dir is None:
            return None
        return os.path.join(self.out_dir, stage, f"run_id={self.run_id}",
                            f"cfg={self.cfg_fingerprint}")

    def _stage(self, name: str, build: Callable[[], DataFrame],
               fuse: bool = False) -> tuple[DataFrame, int]:
        """Materialize one stage by the module docstring's policy, record
        its metrics row, and return (output, rows_out). `build` is called
        only when there is no checkpoint to resume from, so a resumed
        signatures stage never plans the extract and a resumed clusters
        stage runs nothing downstream of signatures. wall_ms times the
        materialization only, not `build` (which may run stages of its
        own). Jobs of the build and the materialization run under the job
        description `stage:<name>`, and the caller's description is
        restored after. A `fuse` stage on the fast path is returned lazy,
        with rows_out -1.

        localCheckpoint rows are counted by an Observation that rides the
        materializing job (no second count() job); like cluster.py's, it
        may over-count under task retries, which can only switch on the
        attach pre-filter (a pure filter). The parquet branch's read-back
        count() doubles as the resume count."""
        path = self._ckpt_path(name)
        if path is None and fuse and not self.cfg.checkpoints:
            return build(), -1
        resumed = bool(path) and os.path.exists(os.path.join(path, "_SUCCESS"))
        sc = self.spark.sparkContext
        outer_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"stage:{name}")
        try:
            df = None if resumed else build()
            t0 = time.monotonic()
            if path is None:
                obs = Observation(f"rows_{name}")
                out = (df.observe(obs, F.count(F.lit(1)).alias("n"))
                       .localCheckpoint())
                n = int(obs.get["n"])
            else:
                if not resumed:
                    df.write.mode("overwrite").parquet(path)
                out = self.spark.read.parquet(path)
                n = out.count()
        finally:
            sc.setJobDescription(outer_desc)
        self.stage_metrics.append(
            {"stage": name, "rows_out": n,
             "wall_ms": int((time.monotonic() - t0) * 1000),
             "run_id": self.run_id, "resumed": resumed}
        )
        return out, n

    def _signatures(self) -> DataFrame:
        pages = self.pages
        if not isinstance(pages, DataFrame):
            pages = read_pages(self.spark, pages)
        pages = spread(clean_pages(pages, self.cfg.exclude_hosts))
        return sigs.signatures(sigs.extract(pages, self.cfg.use_golden_text))

    def run(self) -> DataFrame:
        """Full pipeline; returns clusters(url, cluster_id), clustered rows only."""
        t_all = time.monotonic()
        sig, n_sig = self._stage("signatures", self._signatures)
        if self.cfg.checkpoints:
            # per-partition lineage for the extract stage (north rule): rows
            # per partition + drop accounting, written into metrics
            self._partition_lineage(sig, "signatures")
        # everything downstream of signatures is the clusters stage's
        # build, so a rerun that resumes clusters runs none of it
        clusters, n_clustered = self._stage(
            "clusters", lambda: self._labels(sig, n_sig))

        self.stage_metrics.append(
            {"stage": "pipeline", "rows_out": n_clustered,
             "wall_ms": int((time.monotonic() - t_all) * 1000),
             "run_id": self.run_id})
        self._write_metrics()
        return clusters

    def _labels(self, sig: DataFrame, n_sig: int) -> DataFrame:
        """signatures -> (url, cluster_id) labels: exact collapse, blocking,
        the candidates and scores stages, connected components and
        propagation, gated on the surrogate-id audit."""
        cfg = self.cfg
        # surrogate-id collision audit — UNCONDITIONAL (fast path included):
        # a collision would silently merge clusters, so every run is gated
        # on it, matching the signatures.py docstring claim. The audit job
        # is submitted from a driver THREAD (guide §2.6 — concurrent jobs
        # back-fill executors) so its wall overlaps the blocking/candidates
        # stages instead of adding a serial barrier; the future is resolved
        # (raising on any collision) before this returns, i.e. BEFORE
        # clusters are materialized, so no corrupt result can ever be
        # observed. A rerun that resumes clusters skips the audit: that
        # stage's _SUCCESS is written only after its own run's audit
        # resolved.
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

            # the min(id) roots agg (one HashAggregate over the corpus)
            # feeds both the group map and the representatives
            roots = blocking.exact_roots(sig).localCheckpoint(eager=False)
            ex_map = blocking.exact_group_map(sig, roots)
            # hot-key detection scans the band stream twice (sample +
            # group): materialize the reps join once so the second pass is
            # explode-only
            reps = blocking.exact_representatives(sig, roots).localCheckpoint(
                eager=False)
            pruned, cap_metrics = blocking.prune_blocks(
                blocking.all_blocks(reps), blocking.DEFAULT_MAX_BLOCK,
                blocking.DEFAULT_HOT_BOUND)
            if cfg.checkpoints:
                t0 = time.monotonic()
                n_salted = cap_metrics.count()
                self.stage_metrics.append(
                    {"stage": "blocks_salted", "rows_out": n_salted,
                     "run_id": self.run_id,
                     "wall_ms": int((time.monotonic() - t0) * 1000)})

            pairs = cand.candidate_pairs(pruned, keep_block_key=False,
                                         star_min_block=cfg.star_min_block)
            pairs = cand.simhash_prefilter(pairs, sig)
            # semi pre-filter of the attach joins only when the corpus is
            # big enough that the un-filtered attach would shuffle it (see
            # ATTACH_PREFILTER_ROWS)
            prefilter = n_sig >= ATTACH_PREFILTER_ROWS
            # the candidates stage carries the MinHash-Jaccard estimate:
            # one materialization serves both the resume contract and the
            # fast/slow scoring split (both branches read it)
            est, _ = self._stage("candidates", lambda: scoring.attach_estimates(
                pairs, sig, prefilter))
            scores, _ = self._stage("scores", lambda: scoring.score_estimated(
                est, sig, prefilter=prefilter), fuse=True)

            # Transitive closure runs over FUZZY edges between exact-group
            # representatives only; every page then takes its root's label
            # via one join onto the (url, root_id) exact group map. The
            # exact tier can never be lost (F1 floor, SURVEY.md §7e): a
            # group's members always share their root's final label.
            t0 = time.monotonic()
            cc_stats: dict = {}
            rep_labels = cluster.connected_components(
                scoring.match_edges(scores), stats=cc_stats)
            labels = cluster.propagate_to_members(rep_labels, ex_map)
            self.stage_metrics.append(
                {"stage": "cc_loop", "rows_out": cc_stats.get("levels", -1),
                 "run_id": self.run_id,
                 "wall_ms": int((time.monotonic() - t0) * 1000)})
            # gate on the concurrent id audit; wall_ms is the audit's own
            # span (overlapped)
            n_bad_ids, audit_ms = audit_future.result()
            self.stage_metrics.append(
                {"stage": "id_audit", "rows_out": n_bad_ids,
                 "run_id": self.run_id, "wall_ms": audit_ms})
        finally:
            audit_pool.shutdown(wait=False, cancel_futures=True)
        return labels

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
