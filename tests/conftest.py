from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nrtwithdeltalake_spark.session import build_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # the session's own warehouse: managed tables a killed run left
    # behind can't collide with this run's (LOCATION_ALREADY_EXISTS)
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = build_spark(
        app_name="nrt_tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def spark_global(spark):
    """Session-scoped alias usable inside hypothesis @given tests (which
    reject function-scoped fixtures)."""
    return spark


@pytest.fixture(scope="session")
def tmp_sup(tmp_path_factory):
    """A session-scoped scratch dir for hypothesis tests (one table per
    example, under a fresh name)."""
    return str(tmp_path_factory.mktemp("prop_merge"))
