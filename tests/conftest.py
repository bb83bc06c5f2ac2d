from __future__ import annotations

import sys
from pathlib import Path

import pytest

# this checkout's package, whichever directory the suite runs from
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from cloud_data_sync_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
