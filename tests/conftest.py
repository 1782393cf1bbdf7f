"""Shared SparkSession fixture. One session for the whole run (JVM
startup dominates otherwise); small core count + few shuffle partitions
keep unit tests snappy."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from realtime_financial_transactions_data_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={"spark.master": "local[4]", "spark.driver.memory": "8g"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
