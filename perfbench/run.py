"""Benchmark entry point.

    python3 perfbench/run.py --workload query_single --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. Builds nothing: it imports the
``flechasdb_spark`` package from that checkout, generates its inputs
from ``--seed``, pins the Spark environment, runs one workload for
``--seconds`` seconds and prints, as the last line of standard output,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Scratch files live under ``.perfbench_work/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# every run must end well inside three minutes
DEADLINE_S = 170


def _driver_heap() -> str:
    """A quarter of physical memory, clamped to 1-4 GiB: the package's
    default heap (48g) does not fit a small host, and the corpus is tens
    of MB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    gib = max(1, min(4, total_kb // (4 * 1024 * 1024)))
    return f"{gib}g"


def _pin_environment(trace: bool, run_dir: str) -> dict:
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_DRIVER_MEM": _driver_heap(),
        "SPARK_GRAFT_UI": "1" if trace else "0",
        "TMPDIR": tmp,
        # no hsperfdata file from the launcher JVM either
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import flechasdb_spark
    except ImportError:
        print(f"flechasdb_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.abspath(flechasdb_spark.__file__).startswith(ROOT + os.sep):
        print("flechasdb_spark is not the checkout's own", file=sys.stderr)
        return 2

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {
        m["name"]: m["unit"]
        for m in spec["per_layer" if args.trace else "end_to_end"]
    }
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    trace = bool(args.trace)
    env = _pin_environment(trace, run_dir)
    load_start = os.getloadavg()[0]

    from flechasdb_spark.session import get_spark
    from spans import Tracer

    start = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={env['TMPDIR']} "
                f"-Dderby.system.home={run_dir} -XX:-UsePerfData"
            ),
        },
    )
    session_s = time.perf_counter() - start
    try:
        tracer = Tracer(trace, spark)
        run = workloads.Run(
            spark, tracer, run_dir, args.seed, args.seconds, session_s
        )
        workloads.WORKLOADS[args.workload](run)
        if trace:
            metrics = workloads.per_layer(run, args.workload)
        else:
            metrics = workloads.end_to_end(run, args.workload)
        recall = run.hits / run.expected
    finally:
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    signal.alarm(0)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": trace,
        "corpus": workloads.CORPUS,
        "dims": workloads.DIMS,
        "index": {
            "partitions": workloads.PARTITIONS,
            "divisions": workloads.DIVISIONS,
            "codes": workloads.CODES,
            "build_seed": workloads.BUILD_SEED,
            "max_iter": workloads.MAX_ITER,
            "points_per_centroid": workloads.POINTS_PER_CENTROID,
            "k": workloads.K,
            "nprobe": workloads.NPROBE,
        },
        "env": env,
        "nproc": int(env["SPARK_GRAFT_CPUS"]),
        "loadavg_1m": {"start": load_start, "end": os.getloadavg()[0]},
        "samples": {f"{k}/{'traced' if t else 'untraced'}": len(v)
                    for (k, t), v in run.latency.items()},
        "setup_rounds_s": run.round_s,
        "build_s": run.build_s,
        "ops": run.op_log,
        "recall_at_10": recall,
    }
    if trace:
        first = next(
            r for r in tracer.requests
            if r.kind == workloads.PRIMARY[args.workload]
        )
        layers = tracer.request_self_times(first)
        print(
            f"self times of {first.rid}: "
            + " + ".join(f"{k} {v:.4f}" for k, v in sorted(layers.items()))
            + f" = {sum(layers.values()):.4f} s; request wall {first.wall:.4f} s"
        )
        record["self_time_s"] = [
            {"request": r.rid, "wall": r.wall,
             "layers": tracer.request_self_times(r)}
            for r in tracer.requests[:40]
        ]
        tracer.write(os.path.join(
            WORK, "results", f"spans-{args.workload}-{args.seed}.json"
        ))
    name = f"{args.workload}-{args.seed}-trace{int(trace)}.json"
    with open(os.path.join(WORK, "results", name), "w") as fh:
        json.dump(record, fh, indent=1)

    if set(metrics) != set(units):
        print(f"metrics {sorted(metrics)} differ from BENCHMARK.json",
              file=sys.stderr)
        return 1
    print(json.dumps({k: v for k, v in record.items() if k != "self_time_s"}))
    correct = run.failed == 0 and recall >= workloads.RECALL_FLOOR
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
