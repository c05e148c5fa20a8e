from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from wicsmmiretl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", **{"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def jobs_and_plans(spark):
    """``jobs_and_plans(action)`` runs ``action`` and returns how many Spark
    jobs it submitted (counted by job group) and the executed plan of every
    SQL execution it ran."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    def run(action) -> tuple[int, list[str]]:
        before = executions()
        last_id = before[-1].executionId() if before else -1
        group = f"job-count-{last_id}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setJobGroup(None, None)
        plans = [e.physicalPlanDescription() for e in executions() if e.executionId() > last_id]
        return len(sc.statusTracker().getJobIdsForGroup(group)), plans

    return run


@pytest.fixture(scope="session")
def suite_builds(spark, sf_dir):
    """Every registered suite query built once at sf0.001: name → (output
    schema, executed plan text). Building runs each query's eager work
    (streaming passes, Lloyd jobs), so the all-query checks share this one
    pass. Only the schema and the plan text are kept, not the DataFrames,
    so no checkpointed data outlives the pass."""
    from wicsmmiretl_spark.suite import QUERIES

    builds = {}
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        builds[name] = (df.schema, df._jdf.queryExecution().executedPlan().toString())
    return builds
