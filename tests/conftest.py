import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("ehs-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.default.parallelism", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _run_in_group(sc, fn):
    """(fn(), job ids fn started), under a fresh job group."""
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job probe", False)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the tracker through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture
def jobs_started(spark):
    """``jobs_started(fn) -> (fn(), number of Spark jobs fn started)``,
    counted by the status tracker under a fresh job group."""
    sc = spark.sparkContext

    def run(fn):
        result, jobs = _run_in_group(sc, fn)
        return result, len(jobs)

    return run


@pytest.fixture
def stage_tasks(spark):
    """``stage_tasks(fn) -> (fn(), [tasks executed per stage])`` over the
    stages of the jobs fn started, in stage-id order; a stage skipped because
    its shuffle output was reused runs no task and is left out."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn):
        result, jobs = _run_in_group(sc, fn)
        stages = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
        tasks = [tracker.getStageInfo(s).numCompletedTasks for s in stages]
        return result, [t for t in tasks if t]

    return run
