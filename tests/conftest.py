from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from talkinghead_datapipeline_spark.session import get_spark

    spark = get_spark(app_name="tests", extra_conf={"spark.driver.memory": "6g"})
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def query_builds(spark, sf_dir):
    from tests.oracle_harness import QueryBuilds

    return QueryBuilds(spark, sf_dir)


@pytest.fixture(scope="session")
def mead_graphs() -> str:
    """Directory of the committed MEAD graph declarations, read-only: the
    published config (``mead_a2en_vid2vid.json``) and its twin that
    renders at 32 px (``mead_a2en_vid2vid_s32.json``)."""
    return os.path.join(REPO_ROOT, "perfbench", "graphs")
