"""Shared fixtures: ONE SparkSession + ONE DuckDB connection per test run
(session startup ~12 s, SURVEY.md §7.4.5)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatawork_spark.session import get_spark  # noqa: E402

from .compare import oracle_con  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bigdatawork-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def duck():
    with oracle_con(SF_DIR) as con:
        yield con
