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

    s = get_spark("netrunner_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA


@pytest.fixture(scope="session")
def colocated_fetcher(spark, tmp_path_factory):
    """``make(web, images=None)`` → the fetcher the benchmark crawls
    with: ``web`` (and ``images``) laid out bucketed on url_hash in a
    fresh store lake by ``prepare_colocated_fetcher``. Build one per web
    and share it across the crawl lakes that fetch from it."""
    from netrunner_spark.sources.fetcher import prepare_colocated_fetcher
    from netrunner_spark.tables import LakeCatalog

    def make(web, images=None):
        cat = LakeCatalog(spark, str(tmp_path_factory.mktemp("store")))
        return prepare_colocated_fetcher(cat, web, images)

    return make
