from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Two-tier suite: the full battery takes ~41 min. Tests marked `slow`
# (invariance sweeps over the representative set, end-to-end streaming
# contracts and the heaviest crafted cases) are skipped unless
# SPARK_GRAFT_SLOW is set. The oracle gate is not slow: every default run
# diffs every registered query against DuckDB
# (tests/test_queries_oracle.py::test_query_matches_oracle).


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW"):
        return
    skip = pytest.mark.skip(
        reason="slow tier: set SPARK_GRAFT_SLOW=1 to run the full battery"
    )
    for item in items:
        if item.get_closest_marker("slow"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from talkinghead_datapipeline_spark.session import get_spark

    spark = get_spark(app_name="tests", extra_conf={"spark.driver.memory": "6g"})
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR
