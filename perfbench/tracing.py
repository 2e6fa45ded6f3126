"""Per-layer tracing for one lap, recorded from the benchmark's side.

`Tracer.install()` wraps the module attributes the workloads call through
(e.g. `signatures.extract`, `blocking.prune_blocks`,
`DedupPipeline.run`). Each wrapper records a span (name, layer, start,
end, parent, lap id), runs the call under its own Spark job group, and
materializes every returned DataFrame with an eager `localCheckpoint()`
so the layer's execution lands inside its span. Counters that need an
extra job (row counts, bucket sizes) run afterwards as "probe" spans
whose jobs are attributed to no layer.

After the lap, `layer_metrics()` reads Spark's status stores (the live
stores exist with the UI off): stage metrics per job group, and the
`ArrowEvalPython` SQL metrics of each execution. Boundary materialization
breaks stage fusion, so the per-layer numbers are an attribution and do
not sum to an untraced lap.

Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

# layer -> (module path, attributes the workloads call through)
WRAPPED = {
    "signatures": ("dedupe_rust_spark.operators.signatures",
                   ("extract", "signatures")),
    "blocking": ("dedupe_rust_spark.operators.blocking",
                 ("exact_roots", "exact_group_map", "exact_representatives",
                  "all_blocks", "prune_blocks")),
    "candidates": ("dedupe_rust_spark.operators.candidates",
                   ("candidate_pairs", "simhash_prefilter")),
    "scoring": ("dedupe_rust_spark.operators.scoring",
                ("attach_estimates", "score_estimated", "match_edges")),
    "cluster": ("dedupe_rust_spark.operators.cluster",
                ("connected_components", "propagate_to_members")),
    "ann": ("dedupe_rust_spark.operators.ann",
            ("lsh_cosine_pairs", "srp_band_blocks")),
}
LAYERS = ("signatures", "blocking", "candidates", "scoring", "cluster",
          "ann", "pipeline")
UDF_LAYERS = ("signatures", "scoring", "ann")
MB = 1e6


@dataclass
class Span:
    sid: int
    name: str
    layer: str          # one of LAYERS, or "probe" / "lap"
    parent: int | None
    lap: str
    start: float = 0.0
    end: float = 0.0
    rows_out: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"


class Tracer:
    def __init__(self, spark, lap: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.lap = lap
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record a span around the block and run its Spark jobs in the
        span's own job group; the enclosing span's group is restored."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer,
                  parent.sid if parent else None, self.lap)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        sp.start = time.monotonic()
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     parent.group if parent else None)

    def probe(self, fn):
        """Run a counter query outside every layer's accounting."""
        with self.span("probe", "probe"):
            return fn()

    # ------------------------------------------------------------ wrapping
    def _materialize(self, out):
        if isinstance(out, DataFrame):
            return out.localCheckpoint(eager=True)
        if isinstance(out, tuple):
            return tuple(self._materialize(o) for o in out)
        return out

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if name == "connected_components" and kwargs.get("stats") is None:
                kwargs["stats"] = {}
            with self.span(name, layer) as sp:
                out = self._materialize(fn(*args, **kwargs))
            self._count(sp, out, args, kwargs)
            return out
        return traced

    def install(self) -> None:
        import importlib

        from dedupe_rust_spark.plans import pipeline

        for layer, (mod_name, names) in WRAPPED.items():
            mod = importlib.import_module(mod_name)
            for n in names:
                self._patch(mod, n, self._wrap(getattr(mod, n), n, layer))
        cls = pipeline.DedupPipeline
        self._patch(cls, "run", self._wrap(cls.run, "run", "pipeline"))

    def _patch(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, old = self._restore.pop()
            setattr(owner, attr, old)

    # ------------------------------------------------------------ counters
    def _count(self, sp: Span, out, args, kwargs) -> None:
        first = out[0] if isinstance(out, tuple) else out
        if isinstance(first, DataFrame):
            sp.rows_out = self.probe(first.count)
        if sp.name == "prune_blocks":
            sp.counters["salted_blocks"] = self.probe(out[1].count)
        elif sp.name == "candidate_pairs":
            from dedupe_rust_spark.operators import candidates as cand
            st = self.probe(lambda: cand.pair_stream_stats(
                args[0], kwargs.get("star_min_block",
                                    cand.DEFAULT_STAR_MIN_BLOCK)))
            sp.counters["generated_pairs"] = st["generated_pair_rows"]
        elif sp.name == "connected_components":
            sp.counters["levels"] = kwargs["stats"].get("levels", 0)
        elif sp.name == "srp_band_blocks":
            sp.counters.update(self.probe(lambda: _bucket_stats(out)))

    # ------------------------------------------------------------- readout
    def layer_metrics(self, slots: int) -> dict[str, float]:
        """Per-layer metrics of every recorded span, by `<layer>.<metric>`."""
        jobs: dict[str, list[dict]] = {}
        for j in job_records(self.sc):
            jobs.setdefault(j["group"], []).append(j)
        py = _python_metrics(self.spark)
        by_sid = {sp.sid: sp for sp in self.spans}
        child_s: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_s[sp.parent] = (child_s.get(sp.parent, 0.0)
                                      + sp.end - sp.start)
        m: dict[str, float] = {}
        for layer in LAYERS:
            for k in ("self_s", "task_s", "jobs", "shuffle_write_mb",
                      "spill_mb", "rows_out"):
                m[f"{layer}.{k}"] = 0.0
            if layer in UDF_LAYERS:
                for k in ("py_run_s", "py_sent_mb", "py_recv_mb"):
                    m[f"{layer}.{k}"] = 0.0
        for sp in self.spans:
            if sp.layer not in LAYERS:
                continue
            L = sp.layer
            m[f"{L}.self_s"] += sp.end - sp.start - child_s.get(sp.sid, 0.0)
            for j in jobs.get(sp.group, []):
                m[f"{L}.jobs"] += 1
                m[f"{L}.task_s"] += j["task_ms"] / 1e3
                m[f"{L}.shuffle_write_mb"] += j["shuffle_write"] / MB
                m[f"{L}.spill_mb"] += j["spill"] / MB
            parent = by_sid.get(sp.parent)
            if parent is None or parent.layer != L:
                m[f"{L}.rows_out"] += sp.rows_out
            if L in UDF_LAYERS and sp.group in py:
                p = py[sp.group]
                m[f"{L}.py_run_s"] += p["run_s"]
                m[f"{L}.py_sent_mb"] += p["sent"] / MB
                m[f"{L}.py_recv_mb"] += p["recv"] / MB
        m.update(self._ratios(jobs, py, slots))
        return m

    def _ratios(self, jobs, py, slots: int) -> dict[str, float]:
        def spans(name):
            return [s for s in self.spans if s.name == name]

        def total(name, key=None):
            return sum(s.counters.get(key, 0) if key else s.rows_out
                       for s in spans(name))

        est = total("attach_estimates")
        cands = total("candidate_pairs")
        udf_rows = sum(py[s.group]["rows"] for s in spans("score_estimated")
                       if s.group in py)
        buckets = spans("srp_band_blocks")
        # slot use over the pipeline spans and everything inside them,
        # probes excluded from both the task time and the wall time
        desc = self._descendants("pipeline")
        inside = {s.sid for s in desc}
        wall = sum(s.end - s.start for s in self.spans
                   if s.layer == "pipeline") - sum(
            s.end - s.start for s in self.spans
            if s.layer == "probe" and s.parent in inside)
        task_s = sum(j["task_ms"] / 1e3 for s in desc
                     for j in jobs.get(s.group, []))
        return {
            "blocking.salted_blocks": total("prune_blocks", "salted_blocks"),
            "candidates.dup_factor": (total("candidate_pairs",
                                            "generated_pairs") / cands
                                      if cands else 0.0),
            "scoring.slow_ratio": udf_rows / est if est else 0.0,
            "scoring.match_ratio": (total("match_edges") / est
                                    if est else 0.0),
            "cluster.levels": total("connected_components", "levels"),
            "ann.bucket_max": max((s.counters.get("bucket_max", 0)
                                   for s in buckets), default=0),
            "ann.dup_factor": (
                sum(s.counters.get("generated_pairs", 0) for s in buckets)
                / max(sum(s.counters.get("distinct_pairs", 0)
                          for s in buckets), 1)),
            "pipeline.slot_util": (task_s / (wall * slots)
                                   if wall and slots else 0.0),
        }

    def _descendants(self, layer: str) -> list[Span]:
        roots = {s.sid for s in self.spans if s.layer == layer}
        out = []
        for s in self.spans:  # parents precede children in self.spans
            if s.sid in roots or (s.parent in roots and s.layer != "probe"):
                roots.add(s.sid)
                out.append(s)
        return out


def _bucket_stats(blocks: DataFrame) -> dict:
    """Largest SRP bucket, pair rows the buckets generate, distinct pairs."""
    grouped = (blocks.groupBy("block_key")
               .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
               .filter(F.size("ids") > 1))
    row = grouped.select(
        F.max(F.size("ids")).alias("mx"),
        F.sum(F.size("ids") * (F.size("ids") - 1) / 2).alias("gen")).first()
    distinct = (grouped.select(F.posexplode("ids").alias("i", "a"), "ids")
                .select("a", F.explode(F.slice("ids", F.col("i") + 2,
                                               F.size("ids"))).alias("b"))
                .distinct().count())
    return {"bucket_max": int(row["mx"] or 0),
            "generated_pairs": int(row["gen"] or 0),
            "distinct_pairs": int(distinct)}


def job_records(sc) -> list[dict]:
    """Every job in the live application status store: its group,
    submission time (epoch seconds) and, over completed stage attempts,
    executor run time, shuffle bytes written and bytes spilled to disk."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)  # see every job
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.length()):
        j = jobs.apply(i)
        g, sub = j.jobGroup(), j.submissionTime()
        rec = {"group": g.get() if g.isDefined() else None,
               "submitted": sub.get().getTime() / 1e3
               if sub.isDefined() else None,
               "task_ms": 0, "shuffle_write": 0, "spill": 0}
        sids = j.stageIds()
        for k in range(sids.length()):
            attempts = store.stageData(sids.apply(k), False, None, False,
                                       None)
            for a in range(attempts.length()):
                st = attempts.apply(a)
                if st.status().toString() != "COMPLETE":
                    continue
                rec["task_ms"] += st.executorRunTime()
                rec["shuffle_write"] += st.shuffleWriteBytes()
                rec["spill"] += st.diskBytesSpilled()
        out.append(rec)
    return out


_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_TOTAL = re.compile(r"([0-9][0-9,.]*)\s*([A-Za-z]+)?")
_PY_METRICS = {"time to run Python workers": "run_s",
               "data sent to Python workers": "sent",
               "data returned from Python workers": "recv",
               "number of output rows": "rows"}


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric ('total (min, med, max ...)\\n1.5 s
    (...)', '3.2 MiB', '40,000') in base units (s, bytes, rows)."""
    mt = _TOTAL.match(text.split("\n")[-1].strip())
    if not mt:
        return 0.0
    val = float(mt.group(1).replace(",", ""))
    return val * _UNITS.get(mt.group(2) or "", 1.0)


def _python_metrics(spark) -> dict[str, dict]:
    """Job group -> summed ArrowEvalPython metrics of the SQL executions
    whose first job ran in that group."""
    jstore = spark.sparkContext._jsc.sc().statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    out: dict[str, dict] = {}
    for i in range(execs.length()):
        e = execs.apply(i)
        job_ids = sorted(int(k) for k in _scala_keys(e.jobs()))
        if not job_ids:
            continue
        g = jstore.job(job_ids[0]).jobGroup()
        if not g.isDefined() or not g.get().startswith("perfbench-"):
            continue
        vals = sql.executionMetrics(e.executionId())
        nodes = sql.planGraph(e.executionId()).allNodes()
        rec = out.setdefault(g.get(), {"run_s": 0.0, "sent": 0.0,
                                       "recv": 0.0, "rows": 0.0})
        for k in range(nodes.length()):
            n = nodes.apply(k)
            if n.name() != "ArrowEvalPython":
                continue
            ms = n.metrics()
            for q in range(ms.length()):
                metric = ms.apply(q)
                v = vals.get(metric.accumulatorId())
                if not v.isDefined():
                    continue
                key = _PY_METRICS.get(metric.name())
                if key:
                    rec[key] += _metric_total(v.get())
    return out


def _scala_keys(m) -> list:
    it = m.keysIterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out
