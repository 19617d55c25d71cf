from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from data_pipeline_2025_spark.session import get_spark

    spark = get_spark(
        app_name="dp2025-tests",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT


@pytest.fixture(scope="session")
def smoke_frames(spark, sf_smoke):
    """The (products, supermarkets) pair at sf0.001, opened once."""
    from data_pipeline_2025_spark.tools import open_frames

    return open_frames(spark, sf_smoke)
