from __future__ import annotations

import faulthandler
import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from lakehouse_dba_tools_spark import get_session  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"

# A test still running after this long dumps every thread's stack.
HANG_DUMP_S = 600
_hang_dump_fd: int | None = None


def pytest_configure(config):
    # pytest's output capture is suspended while plugins configure, so
    # this copies the terminal's stderr; a dump written to the copy
    # bypasses the per-test capture and survives the run being killed.
    global _hang_dump_fd
    _hang_dump_fd = os.dup(sys.stderr.fileno())


def pytest_unconfigure(config):
    if _hang_dump_fd is not None:
        os.close(_hang_dump_fd)


@pytest.fixture(autouse=True)
def _dump_stack_if_hung():
    """Arm a stack dump around each test, so a run cut by its time
    budget shows which test hung and where."""
    faulthandler.dump_traceback_later(HANG_DUMP_S, file=_hang_dump_fd)
    yield
    faulthandler.cancel_dump_traceback_later()


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
