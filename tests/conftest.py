from __future__ import annotations

import sys

import pytest

sys.path.insert(0, ".")

from i2o_transform_spark.session import get_spark  # noqa: E402

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
