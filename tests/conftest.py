from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mbrainz_importer_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
REFERENCE_SUBSETS = "/root/reference/subsets"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def reference_subsets():
    """The reference importer's mbrainz subset tree (entities/ and the
    golden batches/). Tests that read it skip when it is absent."""
    if not os.path.isdir(REFERENCE_SUBSETS):
        pytest.skip(f"reference subset tree {REFERENCE_SUBSETS} is absent")
    return REFERENCE_SUBSETS


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMOKE)


def count_jobs(spark, group, fn):
    """(fn(), number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
