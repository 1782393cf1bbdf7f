"""Local stand-in for the driver's correctness harness.

Runs every registry probe at sf0.01 in Spark AND its oracle SQL in
DuckDB, then compares row count, column-name sets, and an
order-insensitive canonicalized value multiset. Usage:

    python scripts/check_oracle.py [probe_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from realtime_financial_transactions_data_pipeline_spark.registry import all_probes
from realtime_financial_transactions_data_pipeline_spark.session import get_spark
from realtime_financial_transactions_data_pipeline_spark.tables import TABLE_NAMES

SF_DIR = "/root/testdata/sf0.01"


# --------------------------------------------------------------------
# Declared-type strictness (round-15 a23): the driver's value hasher is
# numeric-TYPE-tagged, so a Spark BIGINT column against a DuckDB
# HUGEINT oracle column (what a window-sum over BIGINT silently widens
# to) hashes red even when every value is identical. Cell-level canon
# below can't see this — DuckDB's fetchdf lowers HUGEINT into the same
# pandas dtypes as BIGINT-with-nulls — so rehearsal said green while
# the driver said red. These helpers compare the ENGINE-DECLARED
# numeric kind per column (Spark df.schema vs DuckDB DESCRIBE, binding
# only), which is exactly the layer the driver tags.
# --------------------------------------------------------------------

_SPARK_INT = {"tinyint", "smallint", "int", "bigint"}
_DUCK_INT = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}


def _spark_kind(dtype: str) -> str | None:
    d = dtype.lower()
    if d in _SPARK_INT:
        return "int"
    if d in ("float", "double"):
        return "float"
    if d.startswith("decimal"):
        return "decimal"
    return None


def _duck_kind(ctype: str) -> str | None:
    c = ctype.upper()
    if c in _DUCK_INT:
        return "int"
    if c in ("HUGEINT", "UHUGEINT"):
        return "hugeint"
    if c in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if c.startswith("DECIMAL"):
        return "decimal"
    return None


def numeric_kind_mismatches(spark_df, con, oracle_sql: str) -> list[str]:
    """Per-column declared-numeric-kind diffs between a Spark DataFrame
    and a DuckDB oracle query (empty list = driver-type-compatible)."""
    kinds = {
        f.name: _spark_kind(f.dataType.simpleString())
        for f in spark_df.schema.fields
    }
    try:
        rows = con.execute(f"DESCRIBE {oracle_sql}").fetchall()
    except Exception:  # noqa: BLE001 — binding errors surface via execute()
        return []
    out = []
    for col, ctype, *_ in rows:
        ok, sk = _duck_kind(str(ctype)), kinds.get(col)
        if sk is not None and ok is not None and sk != ok:
            out.append(f"numeric kind {col}: spark={sk} duckdb={ok} ({ctype})")
    return out


def canon_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, str):
        # Type-strict: a string never collapses with a number. The t8
        # driver hash mismatch (rounds 3-5) was Spark returning STRING
        # event ids against a BIGINT oracle column — the old canon
        # mapped "59" and 59 to the same token, so only the driver's
        # hasher saw the difference. Int/float still collapse below
        # (pandas upcasts nullable int columns to float64, a fetchdf
        # artifact, not an engine difference).
        return "s:" + v
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(bool(v)).lower()
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return str(v)


def canon_rows(df_pandas) -> list[tuple]:
    cols = sorted(df_pandas.columns)
    out = []
    for _, row in df_pandas[cols].iterrows():
        out.append(tuple(canon_cell(x) for x in row))
    return sorted(out)


def main() -> None:
    only = set(sys.argv[1:])
    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    probes = all_probes()
    n_pass = n_fail = n_rows_only = 0
    for name, p in sorted(probes.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = p.fn(spark, SF_DIR)
            sdf = df.toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        if p.oracle is None:
            print(f"rows  {name}: {len(sdf)} rows, cols={sorted(sdf.columns)}  "
                  f"[{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(p.oracle).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} duckdb={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}")
        problems.extend(numeric_kind_mismatches(df, con, p.oracle))
        if not problems:
            s_rows, o_rows = canon_rows(sdf), canon_rows(odf)
            if s_rows != o_rows:
                diff = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:3]
                problems.append(f"values differ; first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS  {name} ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if n_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
