from __future__ import annotations

import os
import sys

import pytest

# the checkout these tests belong to, whichever directory it is in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opengemini_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
