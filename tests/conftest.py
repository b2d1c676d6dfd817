import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from netrunner_spark.session import get_spark

    # session.py's 48g default heap lets the JVM grow past what a small
    # host holds over a full tier-1 run; 4g is plenty for test data
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    s = get_spark("netrunner_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA
