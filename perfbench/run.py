"""Pipeline benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload backfill_unique --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see README.md). Everything the run writes lives under a per-run
directory in ``.perfbench_tmp/`` that is removed at exit; a traced run
also leaves its spans in ``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_PASSES = 3


def unit(name: str) -> str:
    name = name.removesuffix("_p50").removesuffix("_max")
    for suffix, u in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                      ("_share", "share")):
        if name.endswith(suffix):
            return u
    return "count"


def new_session(root: str):
    from realtime_financial_transactions_data_pipeline_spark.session import get_spark

    conf = {
        "spark.master": f"local[{min(4, os.cpu_count() or 1)}]",
        "spark.driver.memory": "3g",
        # A heap sized up front: with a growing heap, replays slowed by up to 25 %.
        "spark.driver.extraJavaOptions": f"-Xms3g -Djava.io.tmpdir={root}/jvm-tmp",
        "spark.local.dir": f"{root}/spark-local",
        "spark.sql.warehouse.dir": f"{root}/warehouse",
        # Python workers import the engine from this checkout, whatever the cwd.
        "spark.executorEnv.PYTHONPATH": REPO,
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def measure(args, root: str) -> dict:
    from perfbench.tracing import Tracer, status_store
    from perfbench.workloads import TAIL_PCT, WORKLOADS, Run, pct

    run = Run(spark=None, root=root, seed=args.seed)
    wl = WORKLOADS[args.workload](run)  # writes the inputs; not timed
    spark, setups = None, []
    try:
        for k in range(SETUP_PASSES):
            t0 = time.perf_counter()
            # Pass 0 also starts the JVM; later passes set up a fresh session on it.
            run.spark = spark = new_session(root) if spark is None else spark.newSession()
            run.tracer = Tracer(spark.sparkContext, enabled=False)
            wl.warm_up(k)
            setups.append(time.perf_counter() - t0)
            log(f"set-up pass {k}: {setups[-1]:.2f}s")
        wl.measure(args.seconds, "m")
        log("measured")
        e2e = wl.verify()
        log("verified")
        if not args.trace:
            lat = e2e["lat"]
            metrics = {
                "setup_s": statistics.median(setups),
                "rate_per_s": e2e["rate_per_s"],
                "latency_p50_ms": pct(lat, 50),
                "latency_tail_ms": pct(lat, TAIL_PCT[args.workload]),
            }
        else:
            run.tracer.enabled = True
            wl.measure(args.seconds, "t")
            traced = wl.verify()
            metrics = wl.layers(*status_store(spark.sparkContext))
            base = pct(e2e["lat"], 50)  # 0 only when the gate has already failed
            metrics["trace.overhead_share"] = pct(traced["lat"], 50) / base - 1 if base else 0.0
            metrics["failed_share"] = run.failed / max(1, run.attempted)
            os.makedirs(os.path.join(REPO, ".perfbench_traces"), exist_ok=True)
            run.tracer.dump(os.path.join(REPO, ".perfbench_traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        if spark is not None:
            shutdown(spark)
    for note in run.notes:
        print(note, file=sys.stderr)
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in sorted(metrics.items())},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("backfill_unique", "live"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path[:0] = [REPO]
    root = os.path.join(REPO, ".perfbench_tmp", uuid.uuid4().hex)
    os.makedirs(os.path.join(root, "jvm-tmp"))
    # pyspark's launcher writes temp files; keep them inside the run root.
    os.environ["TMPDIR"] = root
    try:
        result = measure(args, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
