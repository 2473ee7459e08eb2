from __future__ import annotations

import os

import duckdb
import pytest

from goose_spark.session import TESTDATA_TABLES, get_spark

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA_ROOT, "sf0.001")
SF_CORRECT = os.path.join(TESTDATA_ROOT, "sf0.01")

# Isolate the flaky-job attempt counters per test run: a concurrent
# bench/pytest process sharing /tmp would reset or pollute another run's
# counters mid-test. Must be set before the SparkSession exists so local
# executor workers inherit it.
os.environ.setdefault(
    "GOOSE_SPARK_FLAKY_DIR",
    os.path.join("/tmp", f"goose-spark-flaky-{os.getpid()}"),
)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("gosling-tests")
    yield spark


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the testdata tables registered as views at
    sf0.01 — the same setup the driver's correctness gate uses."""
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        path = os.path.join(SF_CORRECT, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()
