from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# size the session's heap to the box (a quarter of physical memory):
# get_spark's default heap exceeds a small box's RAM, and a JVM that grows
# into it is OOM-killed mid-session
_PHYS_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(1024, _PHYS_MB // 4)}m")

from webcrawl_lowres_lang_spark.session import get_spark

TEST_CPUS = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master=f"local[{TEST_CPUS}]")
    yield s
    s.stop()
