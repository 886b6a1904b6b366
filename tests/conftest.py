from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from public_projet_data_engineering_tarification_electrique_spark import get_spark

from .oracle_utils import oracle_views

SF_SMOKE = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("TEST_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the sf0.01 tables registered as plain views,
    mirroring the driver's oracle environment."""
    con = oracle_views(SF_ORACLE)
    yield con
    con.close()
