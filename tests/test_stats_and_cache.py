"""S5 stats side-channel + R3 plan cache."""

from __future__ import annotations

from activecube_graphql_spark.cubes import SalesCube
from activecube_graphql_spark.plans.preagg import attach_daily_rollup
from activecube_graphql_spark.stats import execute


def test_execute_returns_stats(spark, sf_dir):
    cube = SalesCube(spark, sf_dir)
    q = (cube.query().slice("region").measure("revenue")
         .when({"shipdate": {"gteq": "1996-01-01"}}))
    rows, stats = execute(q, headers={"request_id": "t-1"})
    assert stats.row_count == len(rows) == 5
    assert stats.wall_seconds > 0
    assert stats.representation is None
    assert stats.used_broadcast_join  # dimension star join must broadcast
    assert stats.headers["request_id"] == "t-1"


def test_stats_report_chosen_representation(spark, sf_dir, tmp_path):
    cube = SalesCube(spark, sf_dir)
    # static mode: at sf0.001 the rollup parquet is physically bigger
    # than raw, so the measured-stats chooser would (correctly) decline
    # it; declared-cost mode pins the choice this test reports on.
    cube.representation_choice = "static"
    attach_daily_rollup(cube, sf_dir, cache_root=str(tmp_path))
    q = cube.query().slice("returnflag").measure("revenue")
    _, stats = execute(q)
    assert stats.representation == "sales_daily_rollup"


def test_plan_cache_reuses_compiled_df(spark, sf_dir):
    """R3 memoization at the plan level: a hit wraps the one cached
    analyzed plan (same JVM object) in a distinct DataFrame, so no
    caller collects a frame another caller already executed."""
    cube = SalesCube(spark, sf_dir)
    identity = spark._jvm.java.lang.System.identityHashCode

    def build():
        return (cube.query().slice("returnflag").measure("count", alias="c")
                .when({"linestatus": "O"}))

    df1 = build().df()
    plan = build()._cached()[0]
    df2 = build().df()
    assert df1 is not df2
    assert identity(build()._cached()[0]) == identity(plan)
    assert len(cube.plan_cache) == 1
    for df in (df1, df2):
        assert df._jdf.queryExecution().analyzed().equals(plan)
    # different args → different plan
    df3 = (cube.query().slice("returnflag").measure("count", alias="c")
           .when({"linestatus": "F"}).df())
    assert not df3._jdf.queryExecution().analyzed().equals(plan)
    assert len(cube.plan_cache) == 2


def test_routing_decisions_observable(spark, sf_dir):
    """Stats-probe operators report which physical path they took
    (index|bitmap, driver|distributed) — observable without log
    parsing."""
    from activecube_graphql_spark.operators.dedup import (
        connected_components, ngram_jaccard_pairs)
    from activecube_graphql_spark.stats import routing_decisions

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    connected_components(pairs, "id_a", "id_b").collect()

    routing = routing_decisions()
    assert routing["ngram_jaccard.strategy"] in {"index", "bitmap"}
    assert routing["connected_components.path"] == "driver"
