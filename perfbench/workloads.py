"""The three workloads: one lap of each, and the correctness check that
every lap must pass.

`lap(kind)` runs one lap of the given kind ("cold", "timed", "untraced"
or "traced") and returns a `Lap`: its wall time, whether its outputs are
correct, and the quality figure (`f1`) its check computed. The timed
region ends when the results are on the driver; the check runs after it.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from dedupe_rust_spark.operators import ann, cluster
from dedupe_rust_spark.plans.pipeline import DedupPipeline, PipelineConfig

import inputs

F1_GATE = 0.99          # pairwise F1 floor on labeled pairs
EMB_F1_GATE = 0.999     # LSH may miss a pair with probability ~1e-7


@dataclass
class Lap:
    seconds: float
    ok: bool
    f1: float
    counters: dict = field(default_factory=dict)


def pair_f1(labeled: pd.DataFrame, clusters: pd.DataFrame) -> float:
    """Pairwise F1 over labeled pairs, as tools/f1_eval.py computes it: a
    pair is predicted a duplicate when both urls share a cluster id."""
    cid = dict(zip(clusters["url"], clusters["cluster_id"]))
    ca = labeled["url_a"].map(cid)
    cb = labeled["url_b"].map(cid)
    pred = ca.notna() & (ca == cb)
    dup = labeled["is_dup"].astype(bool)
    tp = int((dup & pred).sum())
    fp = int((~dup & pred).sum())
    fn = int((dup & ~pred).sum())
    p = tp / max(tp + fp, 1)
    r = tp / max(tp + fn, 1)
    return 2 * p * r / max(p + r, 1e-12)


def _corrupt_clusters(df: pd.DataFrame) -> pd.DataFrame:
    """Merge every cluster into one: the self-test's broken output."""
    return df.assign(cluster_id=df["cluster_id"].min())


class CrawlDense:
    """Default `datagen` crawl, fast path (no checkpoints, no out_dir)."""

    def __init__(self, spark, paths: dict, work_dir: str, corrupt: bool):
        self.spark = spark
        self.pages_dir = paths["pages_dir"]
        self.corrupt = corrupt
        self.labeled = pd.read_parquet(
            os.path.join(self.pages_dir, "labeled_pairs.parquet"))

    def lap(self, kind: str, tracer=None) -> Lap:
        t0 = time.monotonic()
        got = DedupPipeline(
            self.spark, self.pages_dir, out_dir=None,
            config=PipelineConfig(checkpoints=False)).run().toPandas()
        secs = time.monotonic() - t0
        if self.corrupt:
            got = _corrupt_clusters(got)
        f1 = pair_f1(self.labeled, got)
        return Lap(secs, f1 >= F1_GATE, f1)


class CrawlLongResume(CrawlDense):
    """Long documents through the production path: parquet checkpoints
    into a fresh out_dir, then a crash in the last stage (the clusters
    checkpoint removed) and a resume under the same run_id.

    The cold lap is the fresh run. A warm-up or timed lap is one crash and
    resume, checked equal to the fresh clusters. An untraced or traced lap is a
    fresh run plus a resume, so the trace sees both paths."""

    RUN_ID = "bench"

    def __init__(self, spark, paths: dict, work_dir: str, corrupt: bool):
        super().__init__(spark, paths, work_dir, corrupt)
        self.out_dir = os.path.join(work_dir, "out")
        self.fresh: pd.DataFrame | None = None

    def _run(self) -> pd.DataFrame:
        return DedupPipeline(self.spark, self.pages_dir, out_dir=self.out_dir,
                             run_id=self.RUN_ID,
                             config=PipelineConfig(checkpoints=True)
                             ).run().toPandas()

    def lap(self, kind: str, tracer=None) -> Lap:
        secs, counters = 0.0, {}
        if kind in ("cold", "untraced", "traced") or self.fresh is None:
            shutil.rmtree(self.out_dir, ignore_errors=True)
            t0 = time.monotonic()
            self.fresh = self._run()
            secs += time.monotonic() - t0
            counters["ckpt_write_mb"] = _du(self.out_dir) / 1e6
            f1 = pair_f1(self.labeled, self.fresh)
            if kind == "cold":
                return Lap(secs, f1 >= F1_GATE, f1, counters)
        shutil.rmtree(os.path.join(self.out_dir, "clusters",
                                   f"run_id={self.RUN_ID}"))
        t1, w1 = time.monotonic(), time.time()
        resumed = self._run()
        counters["resume_s"] = time.monotonic() - t1
        counters["resume_window"] = (w1, time.time())
        secs += counters["resume_s"]
        if self.corrupt:
            resumed = _corrupt_clusters(resumed)
        f1 = pair_f1(self.labeled, resumed)
        same = _sorted(self.fresh).equals(_sorted(resumed))
        return Lap(secs, f1 >= F1_GATE and same, f1, counters)


class EmbNearDup:
    """SRP-LSH cosine pairs over seeded vectors with a dense clump, then
    connected components over the pairs."""

    def __init__(self, spark, paths: dict, work_dir: str, corrupt: bool):
        self.spark = spark
        self.path = paths["vectors"]
        self.corrupt = corrupt
        truth = np.load(paths["truth"])
        self.truth = set(zip(truth[:, 0].tolist(), truth[:, 1].tolist()))

    def lap(self, kind: str, tracer=None) -> Lap:
        t0 = time.monotonic()
        if tracer is None:
            pairs, labels = self._dataflow()
        else:
            with tracer.span("ann_cluster", "pipeline"):
                pairs, labels = self._dataflow()
        got = pairs.toPandas()
        lab = labels.toPandas()
        secs = time.monotonic() - t0
        if self.corrupt:
            got = got.iloc[: len(got) // 2]
        found = set(zip(got["vec_id_a"].tolist(), got["vec_id_b"].tolist()))
        tp = len(found & self.truth)
        p = tp / max(len(found), 1)
        r = tp / max(len(self.truth), 1)
        f1 = 2 * p * r / max(p + r, 1e-12)
        cc_ok = dict(zip(lab["node"], lab["cluster_id"])) == _min_labels(found)
        return Lap(secs, f1 >= EMB_F1_GATE and cc_ok, f1)

    def _dataflow(self):
        vecs = self.spark.read.parquet(self.path)
        pairs = ann.lsh_cosine_pairs(
            vecs, threshold=inputs.EMB_THRESHOLD, bits=inputs.EMB_BITS,
            dim=inputs.EMB_DIM).localCheckpoint()
        labels = cluster.connected_components(pairs.select(
            F.col("vec_id_a").alias("src"), F.col("vec_id_b").alias("dst")))
        return pairs, labels


WORKLOADS = {"crawl_dense": CrawlDense,
             "crawl_long_resume": CrawlLongResume,
             "emb_neardup": EmbNearDup}


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["url", "cluster_id"]).reset_index(drop=True)


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _min_labels(pairs: set[tuple[int, int]]) -> dict[int, int]:
    """node -> smallest node of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}
