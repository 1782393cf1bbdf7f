"""Profile one probe in isolation: time N noop-sink evaluations and
dump the formatted plan to plans/r18/<name>_<tag>.txt.

Usage:
    python scripts/profile_probe.py <probe> [probe ...] [--tag before]
        [--reps 2] [--no-plan]

Each rep is a FULL fresh evaluation (same methodology as bench.py's
noop sink). Reports every rep plus min, and per-rep shuffle-write
delta. Keeps the session identical to bench (get_spark defaults).
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import _shuffle_written_bytes
from realtime_financial_transactions_data_pipeline_spark.registry import all_probes
from realtime_financial_transactions_data_pipeline_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    tag = None
    reps = 2
    plan = True
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--tag":
            tag = args[i + 1]
            i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif args[i] == "--no-plan":
            plan = False
            i += 1
        else:
            names.append(args[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    # same warm-ups as bench so rep-1 is comparable to a bench pass-1
    spark.range(0, 1_000_000).selectExpr("sum(id)").collect()
    import multiprocessing

    n = multiprocessing.cpu_count()
    spark.range(0, n * 2, 1, n * 2).mapInPandas(lambda it: it, "id long").count()

    probes = all_probes()
    for name in names:
        p = probes[name]
        times = []
        for r in range(reps):
            sh0 = _shuffle_written_bytes(spark)
            t0 = time.time()
            df = p.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            sh1 = _shuffle_written_bytes(spark)
            times.append(dt)
            print(
                f"{name} rep{r + 1}: {dt:.3f}s shuffle={(sh1 - sh0) / 1e6:.2f}MB",
                flush=True,
            )
        print(f"{name} min: {min(times):.3f}s", flush=True)
        if plan and tag:
            plan_dir = os.path.join(ROOT, "plans", "r18")
            os.makedirs(plan_dir, exist_ok=True)
            out = os.path.join(plan_dir, f"{name}_{tag}.txt")
            df = p.fn(spark, sf_dir)
            with open(out, "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"plan -> {out}", flush=True)


if __name__ == "__main__":
    main()
