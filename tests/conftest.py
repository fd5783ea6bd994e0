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
    (SparkStatusTracker), ``plans``, the physical plan text of each
    SQL execution started inside the block (the SQL status store), and
    ``compiles``, the generated classes the JVM compiled meanwhile
    (``metrics.codegen_compiles``; None if unreadable). All work with
    the UI off.
    """
    from geokit_spark.metrics import codegen_compiles

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
        work = SimpleNamespace(jobs=0, plans=[], compiles=None)
        group = f"counted-{uuid.uuid4().hex}"
        before = last_execution()
        compiled = codegen_compiles(spark)
        sc.setJobGroup(group, group)
        try:
            yield work
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            k = last_execution() - before
            now = codegen_compiles(spark)
            if compiled is not None and now is not None:
                work.compiles = now - compiled
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
