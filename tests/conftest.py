from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from hive_2_spark.session import get_spark

    s = get_spark("hive_2_spark_tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def crash_after_renames(monkeypatch, n):
    """Make every ``os.rename`` after the first ``n`` raise, as a crash
    of the process at that point would leave the directories."""
    real, done = os.rename, []

    def rename(src, dst):
        if len(done) == n:
            raise OSError("simulated crash")
        done.append(src)
        real(src, dst)

    monkeypatch.setattr(os, "rename", rename)
