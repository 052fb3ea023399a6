"""Salted joins (plans/skew.py): correctness parity with the plain join,
deterministic salting, and the (key, salt) shuffle in the plan.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def frames(spark, sf_dir):
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    return lineitem, part


def test_salted_inner_join_matches_plain(frames):
    from activecube_graphql_spark.plans.skew import salted_join
    lineitem, part = frames
    plain = (lineitem.join(part, lineitem.l_partkey == part.p_partkey)
             .groupBy("p_brand").agg(F.count(F.lit(1)).alias("c"),
                                     F.sum("l_quantity").alias("q")))
    lk = lineitem.withColumnRenamed("l_partkey", "p_partkey")
    salted = (salted_join(lk, part, on=["p_partkey"], salts=8)
              .groupBy("p_brand").agg(F.count(F.lit(1)).alias("c"),
                                      F.sum("l_quantity").alias("q")))
    assert ({tuple(r) for r in salted.collect()}
            == {tuple(r) for r in plain.collect()})


def test_salted_left_join_keeps_unmatched(spark):
    from activecube_graphql_spark.plans.skew import salted_join
    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    right = spark.createDataFrame([(1, "X")], "k int, w string")
    rows = {tuple(r) for r in
            salted_join(left, right, on=["k"], salts=4, how="left").collect()}
    assert rows == {(1, "a", "X"), (2, "b", None), (3, "c", None)}


def test_salting_is_deterministic(frames):
    """Hash-derived salt: identical across runs (task retries must not
    re-salt differently)."""
    from activecube_graphql_spark.plans.skew import salted_join
    lineitem, part = frames
    lk = lineitem.withColumnRenamed("l_partkey", "p_partkey")
    a = salted_join(lk, part, on=["p_partkey"], salts=8,
                    salt_by=["l_orderkey", "l_linenumber"])
    b = salted_join(lk, part, on=["p_partkey"], salts=8,
                    salt_by=["l_orderkey", "l_linenumber"])
    assert sorted(map(repr, a.collect())) == sorted(map(repr, b.collect()))


def test_join_shuffles_on_key_and_salt(frames):
    """The physical plan must partition by (key, salt), not key alone —
    that is the whole point: a hot key spreads over `salts` partitions."""
    from activecube_graphql_spark.plans.skew import salted_join
    lineitem, part = frames
    spark = lineitem.sparkSession
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lk = lineitem.withColumnRenamed("l_partkey", "p_partkey")
        plan = fmt(salted_join(lk, part, on=["p_partkey"], salts=8))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    import re
    m = re.search(r"hashpartitioning\(p_partkey#\d+L?, __aq_salt#\d+", plan)
    assert m, plan[:2000]


def test_rejects_right_joins():
    from activecube_graphql_spark.plans.skew import salted_join
    with pytest.raises(ValueError, match="how="):
        salted_join(None, None, on=["k"], how="right")


def test_split_salted_join_exact_vs_plain(spark):
    """split_salted_join must equal the plain inner join exactly across
    the awkward cases: NULL join keys (match nothing on either path),
    duplicate rows in hot_keys (deduped), keys present on only one
    side, and an empty hot set."""
    from pyspark.sql import functions as F

    from activecube_graphql_spark.plans.skew import split_salted_join

    left = spark.createDataFrame(
        [("hot", i) for i in range(20)]
        + [("cold", 100), ("cold", 101), ("only_left", 1), (None, 7)],
        ["k", "lv"])
    right = spark.createDataFrame(
        [("hot", "h1"), ("hot", "h2"), ("cold", "c1"),
         ("only_right", "r1"), (None, "n1")], ["k", "rv"])
    hot = spark.createDataFrame([("hot",), ("hot",), ("absent",)], ["k"])

    want = sorted(map(tuple, left.join(right, ["k"]).collect()))
    got = sorted(map(tuple,
                     split_salted_join(left, right, ["k"], hot,
                                       salts=4).collect()))
    assert got == want and len(want) == 42  # 20*2 hot + 2 cold

    empty_hot = hot.filter(F.lit(False))
    got2 = sorted(map(tuple,
                      split_salted_join(left, right, ["k"], empty_hot,
                                        salts=4).collect()))
    assert got2 == want


def test_driver_skew_row_matches_plain_join_and_salts(spark, sf_dir):
    """The graded q_skew_salted_join row (VERDICT r05 item 7) must (a)
    equal the plain inner-join aggregate bit-for-bit and (b) actually
    exercise the salted plan: the physical plan shuffles on
    (key, salt), and the hot top-100 set is non-empty by construction
    so the conditional salt is live, not a constant."""
    from pyspark.sql import functions as F

    from activecube_graphql_spark.driver_queries import q_skew_salted_join

    out = q_skew_salted_join(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__aq_salt" in plan, plan[:2000]

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    want = (orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, want.collect()))


def test_salted_exchange_pinned_against_aqe_coalesce(spark):
    """AQE's partition coalescing sizes post-shuffle partitions by
    MAP-OUTPUT bytes, blind to join fan-out — on a small-shuffle /
    large-output salted join it merged every (key, salt) bucket back
    into one task and silently undid the salting (measured r06, 90%
    whale: salted ran 0.76x of unsalted). The probe exchange must
    therefore carry the REPARTITION_BY_NUM origin (exempt from
    coalescing), and the executed join must keep the pinned partition
    count even with a shuffle write far below the coalesce target."""
    from pyspark.sql import functions as F

    from activecube_graphql_spark.plans.skew import split_salted_join

    left = spark.range(0, 5000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 50)
        .alias("k"), F.col("id").alias("v"))
    right = (spark.range(0, 50).select(F.col("id").alias("k"))
             .crossJoin(spark.range(0, 20).select(F.col("id").alias("r"))))
    hot = spark.createDataFrame([(0,)], "k long")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = split_salted_join(left, right, ["k"], hot, salts=8,
                              salt_by=["v"], partitions=16)
        plan = j._jdf.queryExecution().executedPlan().toString()
        # the load-bearing property is the coalesce-exempt origin;
        # EnsureRequirements may raise the COUNT to match the peer side
        assert "REPARTITION_BY_NUM" in plan, plan[:3000]
        sizes = j.rdd.mapPartitions(
            lambda it: [sum(1 for _ in it)]).collect()
        # the whale key's rows must actually spread over several buckets
        assert sum(1 for n in sizes if n > 0) >= 6, sizes
        assert max(sizes) < 0.5 * sum(sizes), sizes
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_split_salted_join_rejects_key_dtype_mismatch(spark):
    """A mismatched key dtype joins through an implicit cast, which the
    pinned raw-column repartition cannot satisfy — Catalyst would stack
    a second, coalescible exchange and AQE would undo the salting
    silently. The operator surfaces it instead."""
    import pytest
    from pyspark.sql import functions as F

    from activecube_graphql_spark.plans.skew import split_salted_join

    left = spark.range(0, 10).select(
        F.col("id").cast("int").alias("k"), F.col("id").alias("v"))
    right = spark.range(0, 10).select(F.col("id").alias("k"),
                                      F.col("id").alias("w"))
    hot = spark.createDataFrame([(0,)], "k int")
    with pytest.raises(ValueError, match="dtype mismatch"):
        split_salted_join(left, right, ["k"], hot, salts=4, salt_by=["v"])


def test_split_salted_join_fallback_count_ignores_host_cores(
        spark, monkeypatch):
    """Where ``spark.sql.shuffle.partitions`` is not numeric (managed
    platforms report 'auto'), the pinned probe repartition falls back to
    the engine's fixed count — never the host's cores, which would put
    the core count into the LOGICAL plan. defaultParallelism is patched
    to 7 so the fault shows on any host."""
    import re

    from pyspark import SparkContext
    from pyspark.sql.conf import RuntimeConfig

    from activecube_graphql_spark.plans.skew import split_salted_join
    from activecube_graphql_spark.session import ENGINE_PARTITIONS

    get = RuntimeConfig.get

    def auto_partitions(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", auto_partitions)
    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda self: 7))
    left = spark.range(0, 10).select(F.col("id").alias("k"),
                                     F.col("id").alias("v"))
    right = spark.range(0, 10).select(F.col("id").alias("k"),
                                      F.col("id").alias("w"))
    hot = spark.createDataFrame([(0,)], "k long")
    j = split_salted_join(left, right, ["k"], hot, salts=4, salt_by=["v"])
    tree = j._jdf.queryExecution().analyzed().toString()
    counts = re.findall(r"RepartitionByExpression \[[^\]]*\], (\d+)", tree)
    assert counts == [str(ENGINE_PARTITIONS)], tree[:3000]
