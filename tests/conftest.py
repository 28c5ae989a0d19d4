from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Fast local loop: sf0.001 by default; CI/driver-parity runs use sf0.01
# via TEST_SF_DIR=/root/testdata/sf0.01.
TEST_SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from linux_logs_spark.session import get_spark

    s = get_spark("linux-logs-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


def drop_scratch(sf_dir: str) -> None:
    """Delete the engine's staging for a temporary sf_dir
    (``.scratch/<tag>``), which would otherwise outlive the directory
    it was staged from."""
    import shutil

    from linux_logs_spark.operators.scans import _SCRATCH, _scratch_tag

    shutil.rmtree(os.path.join(_SCRATCH, _scratch_tag(sf_dir)), ignore_errors=True)


@pytest.fixture
def make_tier(sf_dir, tmp_path):
    """Build a scale-factor directory under tmp_path: every table copied
    from sf_dir, except the ones passed as pyarrow Tables. Returns the
    directory path."""
    import shutil

    import pyarrow.parquet as pq

    from linux_logs_spark.catalog import TABLES, table_path

    def make(**tables) -> str:
        out = str(tmp_path)
        for t in TABLES:
            if t in tables:
                pq.write_table(tables[t], table_path(out, t))
            else:
                shutil.copy(table_path(sf_dir, t), table_path(out, t))
        return out

    yield make
    drop_scratch(str(tmp_path))
