"""Driver-protocol rehearsal (VERDICT r05 #7): catch probe-result
instability BEFORE the driver's correctness harness does.

For every probe in the driver's 50-entry window, under a PRISTINE
default-conf SparkSession (200 shuffle partitions, default AQE — NOT
our tuned session.get_spark), invoke the builder TWICE back-to-back
(the driver does a schema pass then a value pass) and compare:

  * invocation 1 vs invocation 2 — any drift is exactly the class of
    bug that made t8 red for three rounds (scratch-dir races,
    eviction-timing nondeterminism);
  * invocation hash vs the DuckDB oracle with the TYPE-STRICT
    canonicalizer (strings never collapse with numbers — the other t8
    failure mode).

Run before every round close:

    python scripts/driver_rehearsal.py            # all 50 window probes
    python scripts/driver_rehearsal.py t8_stream_outer_attribution ...

Exit 0 = every probe stable and oracle-consistent; 1 otherwise.
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

from realtime_financial_transactions_data_pipeline_spark.registry import (
    _DRIVER_ORDER,
    all_probes,
)
from realtime_financial_transactions_data_pipeline_spark.tables import TABLE_NAMES
from scripts.check_oracle import canon_rows, numeric_kind_mismatches

SF_DIR = "/root/testdata/sf0.01"


def row_diff(left: list[tuple], right: list[tuple], a: str, b: str) -> str:
    """Rows in only one of two canonical row lists (multiset
    difference, first 5 of each side); zipped pairs of sorted rows
    would misalign after the first missing row."""
    lo = list((Counter(left) - Counter(right)).elements())[:5]
    ro = list((Counter(right) - Counter(left)).elements())[:5]
    return f"{a}-only {lo}, {b}-only {ro}"


def main() -> None:
    only = set(sys.argv[1:])
    spark = (
        SparkSession.builder.appName("driver_rehearsal")
        .master("local[32]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    probes = all_probes()
    # default: the driver's 50-probe window; `--all` rehearses EVERY
    # registered probe (catches scratch races / nondeterminism in
    # side-effecting probes outside the window); names rehearse exactly
    # those probes, in the window or not.
    names = list(_DRIVER_ORDER)
    if "--all" in only:
        only.discard("--all")
        names = list(probes)
    elif only:
        names = sorted(only)
    n_bad = n_ok = 0
    for name in names:
        if only and name not in only:
            continue
        p = probes.get(name)
        if p is None:
            print(f"BAD   {name}: not registered")
            n_bad += 1
            continue
        t0 = time.time()
        try:
            first = canon_rows(p.fn(spark, SF_DIR).toPandas())
            df2 = p.fn(spark, SF_DIR)
            second = canon_rows(df2.toPandas())
        except Exception as exc:  # noqa: BLE001
            print(f"BAD   {name}: raised {type(exc).__name__}: {exc}")
            n_bad += 1
            continue
        problems = []
        if first != second:
            problems.append(
                f"UNSTABLE across invocations ({len(first)} vs "
                f"{len(second)} rows; {row_diff(first, second, 'first', 'second')})"
            )
        if p.oracle is not None:
            # Declared-type strictness: the driver's hasher is numeric-
            # type-tagged (round-15 a23 — identical values, HUGEINT
            # oracle column, driver red while cell-canon said green).
            problems.extend(numeric_kind_mismatches(df2, con, p.oracle))
            oracle = canon_rows(con.execute(p.oracle).fetchdf())
            if second != oracle:
                problems.append(
                    f"ORACLE mismatch ({len(second)} vs {len(oracle)} rows; "
                    f"{row_diff(second, oracle, 'spark', 'oracle')})"
                )
        if problems:
            print(f"BAD   {name}: {'; '.join(problems)}")
            n_bad += 1
        else:
            tag = "ok   " if p.oracle is not None else "rows "
            print(f"{tag} {name} ({len(second)} rows) [{time.time()-t0:.1f}s]")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
