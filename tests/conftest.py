"""Shared fixtures: one SparkSession per test session, DuckDB oracle."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

# the checkout this conftest belongs to, not any other copy on disk
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sparksql_server_spark import get_session  # noqa: E402
from sparksql_server_spark.catalog import TABLES  # noqa: E402
from sparksql_server_spark.plans.catalyst import analyzed  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def analyzed_plan(session, sql):
    """The analyzed plan the gateway keys ``sql`` by in ``session``, or
    None when the statement does not analyze."""
    try:
        return analyzed(session.sql(sql))
    except Exception:
        return None


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql.functions import udf

    def _sleep_ms(v, ms):  # local, so it pickles by value for the workers
        import time

        time.sleep(ms / 1000)
        return v

    s = get_session("tests", cpus=8)
    # sleep_ms(v, ms): returns v after sleeping ms milliseconds, once
    # per row (nondeterministic, so the optimizer neither folds nor
    # moves it) — slow queries for timing and cancellation tests
    s.udf.register("sleep_ms", udf(_sleep_ms, "bigint").asNondeterministic())
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same tables registered as views —
    mirrors the driver's oracle environment."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()
