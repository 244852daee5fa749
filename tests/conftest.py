"""Shared fixtures: one SparkSession and one DuckDB connection per run.

Mirrors the reference's test discipline (tests/conftest.py in the
reference repo builds shared fixtures + validators); here the heavy shared
fixture is the JVM-backed session (session startup ~15 s, amortized).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from vunnel_spark.session import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from vunnel_spark.session import get_spark

    # fewer shuffle partitions: tiny data, faster tests
    s = get_spark("vunnel_spark_tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()
