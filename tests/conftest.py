from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ml_data_pipeline_spark.session import (  # noqa: E402
    build_session,
    default_parallelism,
)

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="mlp-tests",
        cores=default_parallelism(),
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture()
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture()
def sf01_dir():
    return os.path.join(TESTDATA, "sf0.01")
