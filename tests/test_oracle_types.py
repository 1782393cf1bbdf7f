"""Oracle numeric-type contract: no oracle column may DESCRIBE as
HUGEINT or DECIMAL in DuckDB.

The driver's value hasher is numeric-type-tagged: a DuckDB HUGEINT
(what a window ``sum`` over BIGINT silently widens to) hashes
differently from the Spark side's BIGINT even when every value is
identical. Round 15's single driver red (``a23_revenue_concentration``)
was exactly this — all values equal at full precision, hash mismatch
purely from the oracle leaving a window-sum untyped. The local
canonicalizer used to collapse int/float, so rehearsal said green while
the driver said red.

This test DESCRIBEs every registered oracle through DuckDB (schema
binding only — nothing executes) and fails if any column types as
HUGEINT or DECIMAL, closing the class: any future oracle that forgets
to ``CAST(... AS BIGINT)`` around a window-sum (or emits a DECIMAL
ratio) fails here before it can reach the driver.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from realtime_financial_transactions_data_pipeline_spark.registry import all_probes
from realtime_financial_transactions_data_pipeline_spark.tables import TABLE_NAMES

SF_DIR = "/root/testdata/sf0.001"

# Types the driver's hasher tags differently from Spark's long/double.
_FORBIDDEN = ("HUGEINT", "DECIMAL")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def test_no_oracle_column_types_hugeint_or_decimal(duck):
    offenders: list[str] = []
    for name, p in sorted(all_probes().items()):
        if not p.oracle:
            continue
        # DESCRIBE binds the query (views above give it schemas) without
        # running it — cheap enough to sweep all 300+ oracles.
        try:
            rows = duck.execute(f"DESCRIBE {p.oracle}").fetchall()
        except Exception as exc:  # noqa: BLE001
            offenders.append(f"{name}: DESCRIBE failed: {exc}")
            continue
        for col, ctype, *_ in rows:
            if any(bad in str(ctype).upper() for bad in _FORBIDDEN):
                offenders.append(f"{name}.{col}: {ctype}")
    assert not offenders, (
        "oracle columns typed HUGEINT/DECIMAL hash-mismatch the driver "
        "even when values are identical (round-15 a23). CAST them in the "
        "oracle SQL:\n  " + "\n  ".join(offenders)
    )
