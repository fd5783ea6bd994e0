import sys
import uuid
from contextlib import contextmanager
from pathlib import Path
from types import SimpleNamespace

import pytest

# the checkout this conftest lives in, not an installed or fixed copy
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from geokit_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture()
def spark_jobs(spark):
    """Context manager counting the work a block hands to Spark.

    The block runs under a job group of its own; on exit the yielded
    record holds ``jobs``, the number of jobs in that group
    (SparkStatusTracker), and ``plans``, the physical plan text of each
    SQL execution started inside the block (the SQL status store). Both
    work with the UI off.
    """
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def last_execution():
        # both stores are filled from listener events, and the SQL store
        # keeps only the newest executions, so go by id, not by offset
        bus.waitUntilEmpty(60_000)
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    @contextmanager
    def counted():
        work = SimpleNamespace(jobs=0, plans=[])
        group = f"counted-{uuid.uuid4().hex}"
        before = last_execution()
        sc.setJobGroup(group, group)
        try:
            yield work
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            k = last_execution() - before
            work.jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            n = store.executionsCount()
            tail = store.executionsList(max(n - k, 0), k)
            execs = [tail.apply(i) for i in range(tail.size())]
            work.plans = [
                e.physicalPlanDescription()
                for e in execs
                if e.executionId() > before
            ]

    return counted
