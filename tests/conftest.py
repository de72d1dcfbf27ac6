import os
import sys

import pytest

# this checkout's engine, wherever it lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from polars_dataset_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
