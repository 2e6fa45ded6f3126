"""The measured process: one fresh interpreter and JVM per benchmark run.

Usage (from run.py): python3 perfbench/child.py <config.json> <result.json>

Sets up the Spark session and spins up the Python UDF workers, then runs
the cold lap, a fixed number of warm-up laps, and timed laps until the
run's seconds are spent. With tracing on, one untraced and one traced lap
follow the cold lap instead. Writes every lap's figures to <result.json>.
"""

from __future__ import annotations

import gc
import json
import os
import resource
import sys
import time
import traceback

import pandas as pd


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def _session(cpus: int):
    """The program's own session factory, with Spark's scratch kept in the
    benchmark's work dir: SPARK_LOCAL_DIRS (set by run.py) replaces the
    /dev/shm directory the factory would create outside the checkout."""
    from pyspark.sql import functions as F

    from dedupe_rust_spark import session

    class _OsNoMakedirs:
        def __getattr__(self, name):
            return getattr(os, name)

        @staticmethod
        def makedirs(*args, **kwargs):
            raise OSError("scratch dirs come from SPARK_LOCAL_DIRS")

    real_os = session.os
    session.os = _OsNoMakedirs()
    try:
        spark = session.get_spark(app="perfbench", cpus=cpus)
    finally:
        session.os = real_os

    # one task per slot, so every slot's Python worker is forked and warm
    plus_one = F.pandas_udf(_plus_one, "long")
    spark.range(0, 8 * cpus, 1, cpus).select(plus_one("id")).collect()
    return spark


def _gc(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _in_window(jobs: list[dict], window) -> list[dict]:
    a, b = window
    return [j for j in jobs
            if j["submitted"] is not None and a <= j["submitted"] <= b]


def _peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python driver."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def main(cfg_path: str, out_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])
    spark = _session(cfg["cpus"])
    ready = time.time()

    import tracing as tr
    import workloads

    wl = workloads.WORKLOADS[cfg["workload"]](
        spark, cfg["paths"], cfg["work_dir"], cfg["corrupt"])
    laps: list[dict] = []
    windows: list[tuple[float, float]] = []
    deadline = time.monotonic() + cfg["budget_s"]

    def run_lap(kind: str, tracer=None) -> dict:
        _gc(spark)
        w0 = time.time()
        try:
            lap = wl.lap(kind, tracer)
            rec = {"kind": kind, "seconds": lap.seconds, "ok": lap.ok,
                   "f1": lap.f1, **lap.counters}
        except Exception:  # a failed lap is counted, and the run goes on
            traceback.print_exc()
            rec = {"kind": kind, "seconds": None, "ok": False, "f1": None}
        if rec["seconds"] is not None and rec["seconds"] > cfg["lap_limit_s"]:
            rec["ok"] = False  # a lap over the limit counts as timed out
        windows.append((w0, time.time()))
        laps.append(rec)
        print(f"perfbench: lap {len(laps)} {kind} {rec['seconds']} s "
              f"ok={rec['ok']}", file=sys.stderr, flush=True)
        return rec

    run_lap("cold")
    layers: dict = {}
    if not cfg["trace"]:
        for _ in range(cfg["warmup_laps"]):
            run_lap("warmup")
        t_timed = time.monotonic()
        n_timed = 0
        last = 0.0
        while (n_timed < cfg["min_timed_laps"]
               or time.monotonic() - t_timed < cfg["seconds"]):
            # never start a lap that could run past the process budget
            if time.monotonic() + 2 * last + 10 > deadline:
                break
            t = time.monotonic()
            run_lap("timed")
            last = time.monotonic() - t
            n_timed += 1
    else:
        untraced = run_lap("untraced")
        tracer = tr.Tracer(spark, lap="traced")
        tracer.install()
        try:
            with tracer.span("lap", "lap"):
                traced = run_lap("traced", tracer)
        finally:
            tracer.uninstall()
        layers = tracer.layer_metrics(spark.sparkContext.defaultParallelism)
        layers["pipeline.ckpt_write_mb"] = untraced.get("ckpt_write_mb", 0.0)
        layers["pipeline.resume_s"] = untraced.get("resume_s", 0.0)
        # counted on the untraced lap: boundary materialization would run
        # stages a resume skips
        resume = untraced.get("resume_window")
        layers["pipeline.resume_jobs"] = (
            len(_in_window(tr.job_records(spark.sparkContext), resume))
            if resume else 0)
        layers["trace_overhead_s"] = ((traced["seconds"] or 0.0)
                                      - (untraced["seconds"] or 0.0))
    jobs = tr.job_records(spark.sparkContext)
    for rec, window in zip(laps, windows):
        rec["shuffle_write_mb"] = sum(
            j["shuffle_write"] for j in _in_window(jobs, window)) / 1e6
    result = {"ready": ready, "laps": laps, "layers": layers,
              "peak_rss_mb": _peak_rss_mb(spark)}
    _stop(spark)
    with open(out_path, "w") as f:
        json.dump(result, f)


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM this process launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=30)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main(sys.argv[1], sys.argv[2])
