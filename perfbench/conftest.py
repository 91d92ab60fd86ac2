"""Spark session for the benchmark's own tests:
``python -m pytest perfbench -q`` from the repository root."""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# read by the package at import: size the session like the benchmark does
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from perfbench import crawl

    s = crawl.start_session(str(tmp_path_factory.mktemp("spark")))
    yield s
    crawl.stop_session(s)
