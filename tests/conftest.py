"""Shared fixtures: one SparkSession per test session, DuckDB per SF dir.

SPARK_GRAFT_TEST_SF selects the fixture scale (default sf0.001 for the fast
inner loop; CI/milestone runs use sf0.01 to mirror the driver's gate).
"""

from __future__ import annotations

import functools
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from t_mobile_data_fnt_etl_pipeline_aws_spark import get_spark  # noqa: E402
from t_mobile_data_fnt_etl_pipeline_aws_spark.oracle import duck_connect  # noqa: E402
from t_mobile_data_fnt_etl_pipeline_aws_spark.registry import all_queries  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("spark-graft-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def built_query(spark, sf_dir):
    """key -> that key's DataFrame, built on first use and kept for the
    session, so the schema and plan sweeps over every key pay each key's
    eager build once between them."""
    queries = all_queries()

    @functools.cache
    def build(key: str):
        return queries[key](spark, sf_dir)

    return build


@pytest.fixture(scope="session")
def duck():
    con = duck_connect(SF_DIR)
    yield con
    con.close()
