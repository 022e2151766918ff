from __future__ import annotations

import itertools
import os

import pytest

from etl_pack_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    spark = get_spark("etl_pack_spark_tests", shuffle_partitions=8)
    # embedded Derby (the JDBC tests) writes derby.log into the current
    # directory unless this is set before it boots
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(tmp_path_factory.mktemp("derby") / "derby.log")
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), number of Spark jobs fn submitted)``,
    counted by tagging fn's jobs with a fresh job group and reading the
    group's job ids from the status tracker once the listener bus has
    caught up."""
    sc = spark.sparkContext
    groups = itertools.count()

    def run(fn):
        group = f"count_jobs_{next(groups)}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
