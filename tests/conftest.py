from __future__ import annotations

import uuid
from contextlib import contextmanager

import pandas as pd
import pytest

from hdata_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hdata_spark-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_cfg():
    from hdata_spark.fixtures import CDCFixtureConfig

    return CDCFixtureConfig(
        seed=42,
        n_repos=12,
        paths_per_repo=20,
        hot_repos=1,
        hot_factor=15,
        n_events=2_000,
        epoch_size=500,
        base_rows=150,
    )


@pytest.fixture(scope="session")
def small_fixture(small_cfg):
    from hdata_spark.fixtures import generate_base, generate_events

    return generate_base(small_cfg), generate_events(small_cfg)


def assert_state_equal(actual: pd.DataFrame, expected: pd.DataFrame) -> None:
    """Set-equality on (repo, path, commit, lang, sha256(content))."""
    from hdata_spark.fixtures import sha256_fingerprint

    assert sha256_fingerprint(actual) == sha256_fingerprint(expected), (
        f"final-state mismatch: {len(actual)} vs {len(expected)} rows;\n"
        f"actual head:\n{actual.head()}\nexpected head:\n{expected.head()}"
    )


@contextmanager
def _job_group(spark):
    """Yields a callable counting the Spark jobs run so far in the block."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@contextmanager
def _all_jobs(spark):
    """Like `_job_group`, but counts every job submitted in the block from
    any thread. A streaming query runs foreachBatch on its own thread under
    its own job group, which the caller's job group does not reach."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    start = dag.numTotalJobs()
    yield lambda: dag.numTotalJobs() - start


def _last_job_tasks(spark) -> int:
    """Tasks in the final stage of the latest Spark job (for a write job:
    the tasks that wrote its files)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    job = tracker.getJobInfo(jsc.dagScheduler().numTotalJobs() - 1)
    return tracker.getStageInfo(max(job.stageIds)).numTasks
