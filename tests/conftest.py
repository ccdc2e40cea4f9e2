import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from oni_indexer_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="oni-indexer-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def docs(spark):
    from oni_indexer_spark.corpus import from_driver_documents

    return from_driver_documents(spark, SF_SMOKE).cache()


@pytest.fixture
def collected_scans(monkeypatch, spark_reads):
    """Executed plans of the scans the driver collects (``toArrow``) —
    the local regime's scans run while a query is BUILT, so they never
    show in the returned DataFrame's plan. Over an index on disk the
    block rows are a driver read of the pinned files, so the fixture
    turns that read off (``spark_reads``) to pin the Spark scan. A
    Searcher collects a term's block rows only once, so the test starts
    with an empty Searcher registry: its first query through a façade
    gets a fresh Searcher and runs its scan."""
    from pyspark.sql.classic.dataframe import DataFrame

    from oni_indexer_spark.query import bm25

    monkeypatch.setattr(bm25, "_SEARCHERS", {})
    plans = []
    to_arrow = DataFrame.toArrow

    def spy(self):
        out = to_arrow(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(DataFrame, "toArrow", spy)
    return plans


@pytest.fixture
def exchange_regime(monkeypatch):
    """Zero the local gate: every query takes the exchange regime."""
    from oni_indexer_spark.query import bm25

    monkeypatch.setattr(bm25, "LOCAL_KERNEL_MAX_POSTINGS", 0)


@pytest.fixture
def spark_reads(monkeypatch):
    """Zero the driver-read gate: a Searcher reads corpus stats, term
    dfs and the local regime's postings with Spark jobs, as an in-memory
    index does."""
    from oni_indexer_spark.query import bm25

    monkeypatch.setattr(bm25, "_PINNED_MAX_FILES", 0)


def jobs_run(spark, fn):
    """``(fn(), number of Spark jobs it ran)``, counted through a fresh
    job group (the statusTracker keeps a group's finished jobs)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-run-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
