from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from clickhouse_flatfile_tool_spark import get_spark

    warehouse = tempfile.mkdtemp(prefix="cfts_wh_")
    s = get_spark(
        app_name="cfts-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s
    s.stop()
    shutil.rmtree(warehouse, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from clickhouse_flatfile_tool_spark.sources.files import read_table_dir

    return read_table_dir(spark, sf_dir)


@pytest.fixture()
def jobs_fired(spark):
    """``jobs_fired(fn)`` -> (fn's result, number of Spark jobs it fired),
    counted by a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"cfts-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count jobs")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
