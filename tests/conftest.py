from __future__ import annotations

import contextlib
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
def split_bytes(spark):
    """``with split_bytes("512"):`` sets the session's input split size
    (``spark.sql.files.maxPartitionBytes``) for the block. The lake
    serves lookups and writes input up to one split on the driver, so a
    split smaller than any data file forces their Spark paths."""

    @contextlib.contextmanager
    def setting(value: str):
        key = "spark.sql.files.maxPartitionBytes"
        old = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return setting


@pytest.fixture()
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture()
def sf01_dir():
    return os.path.join(TESTDATA, "sf0.01")
