from __future__ import annotations

import os
import sys
from typing import Any, NamedTuple

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"

#: DataFrame methods that run a job, and the writer's — every eager
#: action a registry build can take (take/head/first go through collect)
_ACTIONS = ("collect", "count", "toPandas", "toArrow", "isEmpty", "tail",
            "toLocalIterator", "foreach", "foreachPartition",
            "localCheckpoint", "checkpoint")
_WRITES = ("save", "parquet", "saveAsTable", "insertInto")


class BuiltRow(NamedTuple):
    df: Any       # the DataFrame the row returns
    plan: Any     # its JVM executedPlan, taken before anything runs it
    text: str     # plan.toString() at build time
    actions: list  # (action, JVM executedPlan of the frame it ran on)


@pytest.fixture(scope="session")
def spark():
    from activecube_graphql_spark import get_spark
    s = get_spark("acgs-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def registry(spark) -> dict[str, BuiltRow]:
    """Every QUERIES row built once at sf0.001, with the physical plan
    of every eager action its build ran. Shared by the plan sweep
    (test_plans.py) and the manifest fingerprints
    (test_driver_contract.py)."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from activecube_graphql_spark.driver_queries import QUERIES
    from activecube_graphql_spark.operators import dedup

    # start as a fresh session does: a memo hit would skip the probe
    # action it caches, and the CacheManager would substitute a frame
    # an earlier test persisted into every row whose plan matches it
    dedup._MASS_MEMO.clear()
    dedup._ROUTE_MEMO.clear()
    spark.catalog.clearCache()
    ran: list = []

    def recording(cls, name, frame):
        orig = getattr(cls, name)

        def action(self, *args, **kwargs):
            ran.append((name,
                        frame(self)._jdf.queryExecution().executedPlan()))
            return orig(self, *args, **kwargs)
        return action

    built: dict[str, BuiltRow] = {}
    with pytest.MonkeyPatch.context() as mp:
        for cls, names, frame in ((DataFrame, _ACTIONS, lambda df: df),
                                  (DataFrameWriter, _WRITES,
                                   lambda w: w._df)):
            for name in names:
                mp.setattr(cls, name, recording(cls, name, frame))
        for name, fn in QUERIES.items():
            start = len(ran)
            df = fn(spark, SF_SMALL)
            plan = df._jdf.queryExecution().executedPlan()
            built[name] = BuiltRow(df, plan, plan.toString(), ran[start:])
    return built
