from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from lake_satellite_image_etl_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    from tools.compare import duckdb_con

    return duckdb_con(SF_ORACLE)


@pytest.fixture(scope="session")
def duck_smoke():
    from tools.compare import duckdb_con

    return duckdb_con(SF_SMOKE)
