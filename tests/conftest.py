from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_spark_spark.session import get_spark  # noqa: E402

SF_UNIT = "/root/testdata/sf0.001"  # tiny: unit-level parity
SF_ORACLE = "/root/testdata/sf0.01"  # driver's correctness SF


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("dps-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    # DPS_TEST_SF=/root/testdata/sf0.01 replays the suite at the
    # driver's correctness scale factor
    return os.environ.get("DPS_TEST_SF", SF_UNIT)
