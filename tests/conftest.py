import os
import sys

# the checkout this file belongs to, ahead of any other osm_spark on the path
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pytest


@pytest.fixture(scope="session")
def spark():
    from osm_spark.session import get_spark

    s = get_spark("osm-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def repo_root():
    return ROOT


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
