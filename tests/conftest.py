from __future__ import annotations

import os

import pytest

from crypto_streaming_lakehouse_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_DIR_MID = "/root/testdata/sf0.01"
SF_DIR_LARGE = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()
