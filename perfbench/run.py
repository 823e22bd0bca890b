"""Benchmark entry point.

    python3 perfbench/run.py --workload {index,search} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Generates the workload's corpus from the
seed, builds and queries it through the engine in one closed-loop client
against ``local[N]`` (N = cores, at most 4), checks every answer
against the oracle and prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is a JSON object of run details (generator parameters, host
settings, dictionary sizes, Spark counts per op type, per-layer self
times). Scratch files live in ``.perfbench_work/`` and traces in
``.perfbench_out/``, both under the repository root. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# host sizing: the engine's own defaults (48g heap, spill to /dev/shm)
# target a large box; these fit a 4-core / 15 GB host
MAX_CORES = 4
DRIVER_MEMORY = "3g"
DEADLINE_S = 170  # a run that takes longer is broken: fail, never hang


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["index", "search"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    return ap.parse_args(argv)


def host_settings(work: Path) -> dict:
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    tmp = work / "tmp"
    return {
        "master": f"local[{cores}]",
        "shuffle_partitions": 2 * cores,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "extra_conf": {
            # no hsperfdata under the system temp dir: all files stay in work/
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    }


def start_spark(settings: dict):
    for key in ("SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS", "TMPDIR"):
        os.environ[key] = settings[key]
        if key != "SPARK_DRIVER_MEMORY":
            os.makedirs(settings[key], exist_ok=True)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = settings["TMPDIR"]
    from smse_backend_spark.session import get_spark

    return get_spark("perfbench", master=settings["master"],
                     shuffle_partitions=settings["shuffle_partitions"],
                     extra_conf=settings["extra_conf"])


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def kill_children() -> None:
    """Stop child processes (the JVM) of a session that never came up."""
    me = str(os.getpid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except OSError:
            continue
        if ppid == me:
            os.kill(int(pid), signal.SIGKILL)
            os.waitpid(int(pid), 0)


def on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def metric_block(values: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "smse_backend_spark" / "__init__.py").is_file():
        print(f"perfbench: no smse_backend_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    import workloads

    work = ROOT / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir()
    settings = host_settings(work)
    profile, workload, warm = workloads.WORKLOADS[args.workload]

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    # the corpus is generated while the JVM starts; its oracle is built
    # while the JVM warms up (index) or makes its first build (search).
    # Short GIL slices keep the engine's py4j calls from queuing behind
    # that thread.
    sys.setswitchinterval(1e-4)
    pool = concurrent.futures.ThreadPoolExecutor(1)
    rows_f = pool.submit(workloads.generate, profile, args.seed)
    oracle_f = pool.submit(lambda: workloads.prepare_oracle(rows_f.result(), args.seed))
    t = time.perf_counter()
    try:
        spark = start_spark(settings)
    except BaseException:
        kill_children()
        pool.shutdown(cancel_futures=True)
        raise
    session_start_s = time.perf_counter() - t
    try:
        warmup_s = workloads.warmup(spark, str(work), args.seed) if warm else 0.0
        run = workloads.Run(spark, str(work), args.seed, args.seconds,
                            bool(args.trace), rows_f.result(), oracle_f, warmup_s)
        e2e, op_type, index_dir = workload(run)
        if args.trace:
            run.probes(index_dir)
            metrics = run.per_layer(session_start_s, op_type)
        else:
            metrics = e2e
        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "settings": settings, **run.info,
            "op_ms": run.op_ms, "error_rate": len(run.failures) / run.attempted,
            "failures": run.failures[:20],
            "spark_counts": run.counter.per_type, "phase_s": run.phases,
            "host_gauge_ms": workloads.host_gauge_ms(),
            "samples_p50": {k: statistics.median(v) for k, v in run.samples.items()},
        }
        if args.trace:
            out = ROOT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            path = out / f"trace-{args.workload}-seed{args.seed}.json"
            run.tracer.write(str(path))
            info["trace_file"] = str(path.relative_to(ROOT))
            info["self_s"] = run.tracer.self_times()
    finally:
        stop_spark(spark)
        pool.shutdown(cancel_futures=True)
        shutil.rmtree(work, ignore_errors=True)
        signal.alarm(0)
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metric_block(metrics),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
