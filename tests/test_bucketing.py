"""Bucketed backings (plans/bucketing.py): the fact-fact join must plan
ZERO Exchange when both sides come from matching bucketed catalog tables,
and results must be identical to the plain-parquet path.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from tests.conftest import SF_SMALL


def fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def bucketed_sales(spark):
    from activecube_graphql_spark.cubes import SalesCube
    from activecube_graphql_spark.plans.bucketing import (bucketed_registry,
                                                          bucketize)
    names = bucketize(spark, SF_SMALL,
                      tables={"lineitem": "l_orderkey",
                              "orders": "o_orderkey"},
                      buckets=4, overwrite=True)
    reg = bucketed_registry(SF_SMALL, tables=names)
    yield SalesCube(spark, reg)
    for name in names.values():
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _orderpriority_query(cube, db):
    # orderstatus/orderpriority require the orders join (fact-fact edge);
    # no broadcast dim involved, so the join strategy is fully visible
    return (cube.query(db).slice("orderpriority")
            .measure("count", alias="cnt")
            .measure("quantity"))


@contextlib.contextmanager
def _no_broadcast(spark):
    """Model the 100 TB case: neither fact side fits a broadcast, so the
    planner must pick SortMergeJoin (at toy SF it would broadcast orders)."""
    keys = ["spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold"]
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_plans_no_exchange(bucketed_sales):
    """Both sides bucketed on the join key with equal counts → SortMergeJoin
    over bucket-co-located scans: NO shuffle on the join key; the only
    Exchange left is the (tiny, post-combine) slice aggregation."""
    with _no_broadcast(bucketed_sales.spark):
        plan = fmt(_orderpriority_query(bucketed_sales, "bucketed").df())
    assert "SortMergeJoin" in plan
    assert "hashpartitioning(l_orderkey" not in plan
    assert "hashpartitioning(o_orderkey" not in plan
    assert plan.count(") Exchange") == 1, plan  # the groupBy(orderpriority)
    # bucketed scans: parquet relations come from the catalog tables
    assert "bkt_lineitem" in plan and "bkt_orders" in plan
    assert "SelectedBucketsCount" in plan


def test_parquet_path_still_shuffles(bucketed_sales):
    """Sanity for the assertion above: the same query on the plain-parquet
    database DOES shuffle both join inputs on the join key."""
    with _no_broadcast(bucketed_sales.spark):
        plan = fmt(_orderpriority_query(bucketed_sales, "default").df())
    assert "SortMergeJoin" in plan
    assert "hashpartitioning(l_orderkey" in plan
    assert "hashpartitioning(o_orderkey" in plan


def test_bucketed_results_match_parquet(bucketed_sales):
    """Bucketing is a physical-layout choice; results must be identical."""
    got = {tuple(r) for r in
           _orderpriority_query(bucketed_sales, "bucketed").relabeled().collect()}
    want = {tuple(r) for r in
            _orderpriority_query(bucketed_sales, "default").relabeled().collect()}
    assert got == want and got


def test_bucketed_groupby_on_bucket_key_no_exchange(bucketed_sales):
    """Aggregation keyed by the bucket column is also exchange-free."""
    from pyspark.sql import functions as F
    df = (bucketed_sales.source.read(bucketed_sales.spark, "bucketed",
                                     "lineitem")
          .groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q")))
    assert "Exchange" not in fmt(df)
