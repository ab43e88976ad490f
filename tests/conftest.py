from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kwwhat_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("KWH_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kwh-spark-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def small_fleet_dir(tmp_path_factory):
    """A small generated OCPP fleet (the property harness's generator,
    8 chargers) for tests that need the model DAG without the demo seed."""
    from tests.test_ocpp_dag_property import write_fleet

    return write_fleet(tmp_path_factory.mktemp("small_fleet"), seed=7, n=8)
