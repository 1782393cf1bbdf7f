"""Reproduction harness for the t8 driver-hash mismatch (VERDICT r05 #1).

Mimics the driver's conditions as closely as we can infer them:
  * a FRESH python process per attempt (run this script N times);
  * a pristine default-conf SparkSession — NO shuffle-partition override
    (Spark default 200), NO objectHashAggregate tuning, AQE at its
    default, session timezone left at the JVM default (the container TZ);
  * the probe invoked TWICE back-to-back (the driver does a schema pass
    then a value pass);
  * row-level comparison against the DuckDB oracle with check_oracle's
    canonicalization, printing the full symmetric diff on mismatch.

Usage:  python scripts/t8_repro.py [probe_name] [sf_dir]
Exit 0 = both invocations matched the oracle; 1 = any mismatch.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

from realtime_financial_transactions_data_pipeline_spark.registry import all_probes
from realtime_financial_transactions_data_pipeline_spark.tables import TABLE_NAMES
from scripts.check_oracle import canon_rows

PROBE = sys.argv[1] if len(sys.argv) > 1 else "t8_stream_outer_attribution"
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"


def main() -> None:
    # Deliberately NOT session.get_spark(): the point is the driver's
    # pristine conf, not our tuned one.
    spark = (
        SparkSession.builder.appName("t8_repro")
        .master("local[32]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    print(
        "conf: shuffle.partitions=%s tz=%s aqe=%s"
        % (
            spark.conf.get("spark.sql.shuffle.partitions"),
            spark.conf.get("spark.sql.session.timeZone"),
            spark.conf.get("spark.sql.adaptive.enabled"),
        )
    )
    p = all_probes()[PROBE]
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    o_rows = canon_rows(con.execute(p.oracle).fetchdf()) if p.oracle else None

    bad = False
    for attempt in (1, 2):
        sdf = p.fn(spark, SF_DIR).toPandas()
        s_rows = canon_rows(sdf)
        if o_rows is None:
            print(f"attempt {attempt}: {len(s_rows)} rows (no oracle)")
            continue
        if s_rows == o_rows:
            print(f"attempt {attempt}: MATCH ({len(s_rows)} rows)")
        else:
            bad = True
            extra = [r for r in s_rows if r not in o_rows]
            missing = [r for r in o_rows if r not in s_rows]
            print(
                f"attempt {attempt}: MISMATCH spark={len(s_rows)} "
                f"oracle={len(o_rows)} spark-only={extra} oracle-only={missing}"
            )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
