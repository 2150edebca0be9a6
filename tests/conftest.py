from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from etl_for_dumdums_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(autouse=True)
def _release_pins():
    """Every test releases what it pinned: intermediates persisted with
    session.pin live until the test's terminal action, then go."""
    yield
    from etl_for_dumdums_spark.session import release

    release()


@pytest.fixture()
def tmp_store(tmp_path):
    return str(tmp_path / "store")
