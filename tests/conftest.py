from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from lakehouse_dba_tools_spark import get_session  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # session.py defaults to a 48g driver heap, more than a small test
    # host has; an explicit SPARK_GRAFT_DRIVER_MEM still wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = get_session(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
