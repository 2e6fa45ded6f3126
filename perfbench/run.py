"""Benchmark of the dedup engine: three seeded workloads, each measured in
a fresh process, with correctness checked on every lap.

Usage, from the repository root:

    python3 perfbench/run.py --workload crawl_dense --seed 1 --seconds 15 \
        --trace 0

Prints, as its last stdout line, one JSON object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer
ones (see tracing.py). Inputs are generated from --seed and cached under
perfbench/.cache; Spark scratch lives under perfbench/.work.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input sizes, chosen so that on 4 cores every lap takes 5 s or more while
# a whole run (set-up, cold lap, warm-up, timed laps) stays near 60 s;
# `tiny` is the self-test's size.
SIZES = {
    "crawl_dense": {"full": 2500, "tiny": 300},
    "crawl_long_resume": {"full": 1200, "tiny": 120},
    "emb_neardup": {"full": 4500, "tiny": 600},
}
WARMUP_LAPS = 1       # untimed laps between the cold lap and the timed ones
MIN_TIMED_LAPS = 2
RUN_BUDGET_S = 165    # the whole run, set-up included, ends within 180 s
STOP_GRACE_S = 5.0    # per step of stopping the measured process group
DRIVER_MEM = "2g"
# Executor slots. The pipeline is bound by the driver (slot use ~0.4), so
# two slots run it about as fast as four while leaving cores to the driver
# JVM, its JIT and GC threads, which keeps lap times steadier.
SLOTS = 2


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the self-test")
    p.add_argument("--corrupt", action="store_true",
                   help="corrupt every lap's output (self-test of the checks)")
    return p.parse_args(argv)


def _spark_env(work: str) -> dict:
    """Environment of the measured process: its Spark scratch and temp
    files stay under `work`, and the JVMs write no perf data file."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_UI": "0",
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS":
            f'--driver-java-options "{jvm_opts}" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    return env


def _group_alive(pgid: int) -> bool:
    """True while any non-zombie process is left in the process group."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Wait until every process in the child's group (the JVM and the
    Python workers) has ended; the JVM exits by itself once the child has,
    so signals are only the fallback."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        end = time.monotonic() + STOP_GRACE_S
        while time.monotonic() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _run_child(cfg: dict, work: str, env: dict, timeout: float):
    cfg_path = os.path.join(work, "config.json")
    out_path = os.path.join(work, "result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    spawned = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "child.py"), cfg_path, out_path],
        env=env, cwd=work, stdout=sys.stderr, start_new_session=True)
    code = None
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    finally:  # also when this process is interrupted or terminated
        _stop_group(proc.pid)
        if proc.poll() is None:
            proc.wait()
    if code != 0 or not os.path.exists(out_path):
        return spawned, None
    with open(out_path) as f:
        return spawned, json.load(f)


def _median(values):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


def main(argv=None) -> int:
    t_start = time.monotonic()
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dedupe_rust_spark")):
        print("perfbench: the dedupe_rust_spark package is not next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import inputs

    size = SIZES[a.workload][a.size]
    paths = inputs.prepare(a.workload, a.seed, size,
                           os.path.join(HERE, ".cache"))
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = min(SLOTS, os.cpu_count() or 1)
    # the child must have exited, and its group stopped, by RUN_BUDGET_S
    timeout = RUN_BUDGET_S - 3 * STOP_GRACE_S - (time.monotonic() - t_start)
    cfg = {"root": ROOT, "workload": a.workload, "paths": paths,
           "work_dir": work, "cpus": cpus, "corrupt": a.corrupt,
           "trace": a.trace, "seconds": a.seconds,
           "warmup_laps": WARMUP_LAPS, "min_timed_laps": MIN_TIMED_LAPS,
           "lap_limit_s": 60.0, "budget_s": timeout - 15.0}
    spawned, res = _run_child(cfg, work, _spark_env(work), timeout)
    shutil.rmtree(work, ignore_errors=True)
    if res is None:
        print("perfbench: the measured process failed", file=sys.stderr)
        return 1

    laps = res["laps"]
    failed = sum(not lap["ok"] for lap in laps)
    good = [lap for lap in laps if lap["ok"]] or laps
    timed = [lap for lap in good if lap["kind"] == "timed"]
    if a.trace:
        metrics = {k: {"value": v, "unit": _layer_unit(k)}
                   for k, v in sorted(res["layers"].items())}
    else:
        metrics = {
            "setup_s": (res["ready"] - spawned, "s"),
            "cold_run_s": (laps[0]["seconds"] or 0.0, "s"),
            "warm_run_s": (_median(lap["seconds"] for lap in timed), "s"),
            "f1": (_median(lap["f1"] for lap in good), "ratio"),
            "shuffle_write_mb": (_median(lap["shuffle_write_mb"]
                                         for lap in timed), "MB"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(laps),
                      "failed": failed, "metrics": metrics}))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_factor", "_util")):
        return "ratio"
    return "count"


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    sys.exit(main())
