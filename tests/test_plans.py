"""Physical-plan audits — the properties that matter at 100 TB.

Correctness tests prove the engine right at small SF; these prove the
*plans* stay right at scale: filters reach the parquet scan, scans read
only referenced columns, per-group limits rank map-side before the
shuffle, aggregates split partial/final, and dimension joins broadcast.
A regression in any of these is invisible at sf0.001 and catastrophic at
1000 executors.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F


def fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def sales(spark, sf_dir):
    from activecube_graphql_spark.cubes import SalesCube
    return SalesCube(spark, sf_dir)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from activecube_graphql_spark.cubes import EventsCube
    return EventsCube(spark, sf_dir)


def test_filter_pushdown_reaches_parquet_scan(sales):
    """The shipdate selector casts to date, but Catalyst must still rewrite
    it into a pushable raw-timestamp range (PushedFilters on l_shipdate) —
    at 100 TB this is the difference between scanning a slice of row
    groups and scanning everything."""
    q = (sales.query().slice("returnflag").measure("count")
         .when({"shipdate": {"lteq": "1998-09-02"}}))
    plan = fmt(q.df())
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "l_shipdate" in pushed[0], pushed


def test_column_pruning_reaches_parquet_scan(sales):
    """ReadSchema must contain only the referenced columns — a 16-column
    fact table scanned for a 3-column query reads 5x too many bytes."""
    q = (sales.query().slice("returnflag").measure("quantity")
         .when({"linestatus": "F"}))
    plan = fmt(q.df())
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas, plan
    struct = schemas[0].split("struct<", 1)[1]
    cols = set(re.findall(r"(\w+):", struct))
    assert cols == {"l_returnflag", "l_quantity", "l_linestatus"}, cols


def test_limit_by_ranks_map_side(events):
    """limit_by compiles to row_number+filter; Spark >=3.5 must plan a
    WindowGroupLimit BELOW the exchange (partial mode) so only ~n rows per
    group per partition shuffle — the pattern that holds at 100 TB."""
    q = (events.query().slice("user_id").measure("count").desc("count")
         .limit_by("user_id", limit=2))
    plan = fmt(q.df())
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_partial_final_aggregation(sales):
    """Grouped aggregation must split map-side partial + final (two
    HashAggregate nodes around the exchange)."""
    q = sales.query().slice("returnflag").measure("revenue")
    plan = fmt(q.df())
    assert len(re.findall(r"\)\s+HashAggregate", plan)) >= 2, plan


def test_money_sum_plan_stays_integer(sales):
    """Regression gate for the r08 money fast path (BENCH_NOTES r08): the
    revenue aggregate must plan as hardware int64 sums inside a
    HashAggregate — NO DecimalType anywhere in the plan. The r07 DECIMAL
    formulation widened the sum buffer past 18 digits, dropping Spark's
    unscaled-long fast path for BigDecimal at a measured 5× per-row cost
    on Expand shapes (rollup 5.07× — the round's only 2×-freeze breaks);
    this pins the fix structurally so a future metric edit cannot
    silently reintroduce it."""
    for q in (sales.query().slice("returnflag", "linestatus")
                   .measure("revenue").grouping("rollup"),
              sales.query().slice("returnflag")
                   .measure("revenue", alias="a")
                   .measure("revenue", alias="b",
                            where={"discount": {"gteq": 0.05}})):
        plan = q.df()._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan and "SortAggregate" not in plan
        assert "Decimal" not in plan and "decimal" not in plan, plan[:1500]


def test_money_sum_matches_exact_decimal_arithmetic(spark):
    """Exactness property of Metric.money_sum on arbitrary 2dp-grid data
    (not just the fixture): emitted dollars == round-half-up of the
    EXACT decimal sum, computed independently in Python integer
    arithmetic — including sums that land exactly ON a .xx5 midpoint,
    the class that motivated the whole money-typing migration."""
    import random

    from activecube_graphql_spark.model import Metric

    rnd = random.Random(8)
    rows = [(i % 7,
             round(rnd.uniform(1, 105000), 2),
             round(rnd.uniform(0.0, 0.10), 2)) for i in range(4000)]
    # plant exact-midpoint groups (cents4 sum ≡ 50 mod 100, i.e. the
    # dollar sum sits exactly ON a .xx5 half): 25·90 = 2250 and
    # 10000·100 + 2250 = 1_002_250 — both end in 50
    rows += [(7, 0.25, 0.10),
             (8, 100.00, 0.00), (8, 0.25, 0.10)]
    df = spark.createDataFrame(rows, "g int, p double, d double")
    m = Metric.money_sum(lambda: F.expr(
        "CAST(floor(p * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) "
        "* (100 - CAST(floor(d * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT))"))
    got = {r["g"]: r["v"] for r in
           df.groupBy("g").agg(m.agg(None).alias("v")).collect()}
    # independent exact arithmetic: ints only, half-up at cents
    want: dict[int, int] = {}
    for g, p, d in rows:
        want[g] = want.get(g, 0) + round(p * 100) * (100 - round(d * 100))
    for g, s in want.items():
        assert got[g] == ((s + 50) // 100) / 100, (g, s, got[g])


def test_money_sum_two_level_survives_int64_overflow(spark):
    """The documented escape hatch past money_sum's single-level bound
    (~$9e11/group): two int64 partial sums (bit-split at radix 2^20 —
    hi = e >> 20, lo = e & mask, exact for every long) with a per-GROUP
    decimal combine. On a group whose cents4 sum
    exceeds Long.MAX — where the single-level long sum raises
    ARITHMETIC_OVERFLOW under Spark 4's default ANSI mode (loud, never
    silently wrong) — the two-level emission must still equal exact
    Python integer arithmetic; on ordinary data both levels must agree
    exactly."""
    from decimal import Decimal

    from activecube_graphql_spark.model import Metric

    # 300 rows of 9.2e16 cents4 each → sum 2.76e19 > Long.MAX (9.22e18)
    big = 92_000_000_000_000_000
    df = spark.createDataFrame([(1, big)] * 300, "g int, cents long")
    m2 = Metric.money_sum("cents", two_level=True)
    got = df.groupBy("g").agg(m2.agg(None).alias("v")).collect()[0]["v"]
    want = Decimal(((300 * big + 50) // 100)) / 100
    assert got == want, (got, want)
    # the single-level long sum fails LOUDLY here (Spark 4 ANSI mode —
    # ARITHMETIC_OVERFLOW — never a silently wrong total)
    m1 = Metric.money_sum("cents")
    with pytest.raises(Exception, match="(?i)overflow"):
        df.groupBy("g").agg(m1.agg(None).alias("v")).collect()

    # parity on in-bounds data (incl. a planted midpoint and a
    # conditional aggregate)
    import random
    rnd = random.Random(88)
    rows = [(i % 5, rnd.randrange(0, 10_500_000_000)) for i in range(2000)]
    rows += [(5, 2250)]  # ...50 → exact half-cent midpoint group
    df2 = spark.createDataFrame(rows, "g int, cents long")
    cond = F.col("cents") % 3 == 0
    for c in (None, cond):
        a = {r["g"]: r["v"] for r in
             df2.groupBy("g").agg(
                 Metric.money_sum("cents").agg(c).alias("v")).collect()}
        b = {r["g"]: r["v"] for r in
             df2.groupBy("g").agg(
                 Metric.money_sum("cents", two_level=True)
                 .agg(c).alias("v")).collect()}
        for g in a:
            if a[g] is None:
                assert b[g] is None
            else:
                assert float(b[g]) == a[g], (g, a[g], b[g])


def test_dimension_joins_broadcast_fact_join_shuffles(sales):
    """Star joins: customer/nation/region broadcast (no fact shuffle);
    the fact-fact lineitem-orders edge may shuffle; nothing degenerates
    to a nested-loop / cartesian product."""
    q = (sales.query().slice("region").measure("revenue", "orders"))
    plan = fmt(q.df())
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_degenerate_joins_across_cube_queries(sales, events):
    """Sweep: no cube-compiled query may plan a cartesian product."""
    qs = [
        sales.query().slice("nation").measure("count")
             .when({"region": "ASIA"}),
        sales.query().slice("brand").measure("revenue").desc("revenue").limit(5),
        events.query().slice("event_type").measure("total", "users"),
    ]
    for q in qs:
        plan = fmt(q.df())
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_preagg_representation_shrinks_scan(spark, sf_dir, tmp_path):
    """When a covering rollup representation is chosen, the scan must read
    the rollup parquet, not the raw fact table (SURVEY 4.3 - at 100 TB
    this is the decisive optimization). Declared-cost mode pins the
    choice: at sf0.001 the rollup is physically bigger than raw, so the
    measured-stats chooser would (correctly) scan raw instead."""
    from activecube_graphql_spark.plans.preagg import attach_daily_rollup
    from activecube_graphql_spark.cubes import SalesCube
    cube = SalesCube(spark, sf_dir)
    cube.representation_choice = "static"
    attach_daily_rollup(cube, sf_dir, cache_root=str(tmp_path))
    q = cube.query().slice("returnflag").measure("revenue")
    plan = fmt(q.df())
    assert "sales_daily" in plan, plan[:500]


def test_representation_choice_by_measured_stats(spark, tmp_path):
    """Stats-based representation selection (SURVEY 4.3 cost model): the
    chooser compares Catalyst's estimated post-pruning scan bytes, not
    declared static costs. A rollup 20x smaller than the fact table wins
    the unfiltered query but LOSES to raw when a filter on the raw
    table's partition column prunes raw below the rollup's size - and
    either plan returns identical results."""
    from pyspark.sql import functions as F

    from activecube_graphql_spark.model import (Cube, Dimension, Metric,
                                                Representation, Selector)

    # shape: rollup ~ raw/2 (fine grain), one raw partition ~ raw/10 —
    # so rollup < raw (unfiltered) but pruned raw < rollup (filtered).
    # p is id div 4000 (NOT id % k: (id % 2000) % 10 would equal id % 10,
    # collapsing the (d, p) grain to 2000 rows)
    raw = (spark.range(40_000)
           .select((F.col("id") % 2000).alias("d"),
                   F.expr("id div 4000").alias("p"),
                   (F.col("id") * 1.5).alias("v")))
    data_dir = tmp_path / "data"
    (raw.repartition("p")
     .write.partitionBy("p").parquet(str(data_dir / "facts.parquet")))
    rollup_path = str(tmp_path / "rollup.parquet")
    (spark.read.parquet(str(data_dir / "facts.parquet"))
     .groupBy("d", "p")
     .agg(F.sum("v").alias("sum_v"), F.count(F.lit(1)).alias("n"))
     .coalesce(1).write.parquet(rollup_path))

    class TinyCube(Cube):
        name = "tiny"
        base_table = "facts"
        dimensions = {"d": Dimension("d")}
        metrics = {"total": Metric.sum("v"), "cnt": Metric.count()}
        selectors = {"p": Selector("p")}

    def make_cube(with_rep: bool) -> TinyCube:
        cube = TinyCube(spark, str(data_dir))
        if with_rep:
            cube.add_representation(Representation(
                name="tiny_rollup", table="facts",
                dimensions={"d": Dimension("d")},
                metrics={"total": Metric.sum("sum_v"),
                         "cnt": Metric.sum("n")},
                selectors={"p": Selector("p")},
                cost=0.05, path=rollup_path))
        return cube

    cube, plain = make_cube(True), make_cube(False)

    q_all = cube.query().slice("d").measure("total", "cnt")
    chosen = q_all.chosen_representation()
    assert chosen is not None and chosen.name == "tiny_rollup"

    q_pruned = (cube.query().slice("d").measure("total", "cnt")
                .when({"p": 1}))
    assert q_pruned.chosen_representation() is None, \
        "partition-pruned raw scan should beat the unpruned rollup"

    def rows(q):
        return sorted((r["_aq.d"], round(r["_aq.total"], 6), r["_aq.cnt"])
                      for r in q.df().collect())

    assert rows(q_all) == rows(plain.query().slice("d")
                               .measure("total", "cnt"))
    assert rows(q_pruned) == rows(plain.query().slice("d")
                                  .measure("total", "cnt").when({"p": 1}))


def test_dedup_pipelines_never_cartesian(spark, sf_dir):
    """The sketch pipelines must join through bucket/segment keys — a
    CartesianProduct or broadcast nested loop anywhere means the
    candidate generation degenerated to all-pairs."""
    from activecube_graphql_spark.operators import dedup as dd
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plans = [
        fmt(dd.minhash_lsh_verified(docs, n=3)),
        fmt(dd.simhash_neardup_pairs(docs, k=1, bands=2)),
        fmt(dd.simhash_neardup_pairs(docs, k=3, bands=4, hash_fn="md5")),
        fmt(dd.ngram_jaccard_pairs(docs, n=2, threshold=0.5,
                                   strategy="index")),
    ]
    for plan in plans:
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_compaction_and_clustering(spark, tmp_path):
    """compact_parquet sizes output from measured bytes; cluster_parquet
    additionally makes per-file value ranges narrow so min/max stats can
    prune — data identical in all cases."""
    from activecube_graphql_spark.plans.compaction import (cluster_parquet,
                                                           compact_parquet)
    src = str(tmp_path / "src.parquet")
    from pyspark.sql import functions as F
    df = spark.range(50_000).select(
        "id", (F.col("id") % 97).alias("k"), F.rand(7).alias("v"))
    df.repartition(64).write.parquet(src)  # 64 tiny files
    assert len(spark.read.parquet(src).inputFiles()) >= 32

    dst = str(tmp_path / "compact.parquet")
    parts = compact_parquet(spark, src, dst, target_mb=128)
    assert parts == 1  # tiny table -> single right-sized file
    assert len(spark.read.parquet(dst).inputFiles()) == 1
    assert (spark.read.parquet(dst).agg(F.sum("id")).collect()
            == df.agg(F.sum("id")).collect())

    clu = str(tmp_path / "clustered.parquet")
    cluster_parquet(spark, src, clu, by=["k"], target_mb=0.05)
    out = spark.read.parquet(clu)
    assert (out.agg(F.sum("id")).collect() == df.agg(F.sum("id")).collect())
    # each output file covers a narrow k-range: per-file spans must be
    # far below the global span (the property min/max pruning feeds on)
    spans = (out.withColumn("f", F.input_file_name())
             .groupBy("f").agg((F.max("k") - F.min("k")).alias("span"))
             .collect())
    assert len(spans) > 1
    assert sum(r["span"] for r in spans) / len(spans) < 97 / 2


def test_file_identity_sees_nested_partition_rewrites(tmp_path):
    """A rewrite INSIDE a key=value partition subdirectory must change
    the source identity (and so the tag naming a cached split/rollup)
    even when the partition directory's own stat is unchanged — a
    one-level listing stats only the immediate children, so a cached
    split/rollup could go stale under nested rewrites (VERDICT r4
    item 8)."""
    import os
    import time

    from activecube_graphql_spark.cache import file_identity, identity_tag

    table = tmp_path / "t.parquet"
    src = table / "day=2024-01-01"
    src.mkdir(parents=True)
    f = src / "part-0000.parquet"
    f.write_bytes(b"one")
    dir_stat = os.stat(src)
    id1, tag1 = file_identity(str(table)), identity_tag(str(table))

    time.sleep(0.01)
    f.write_bytes(b"two")           # same size, new mtime, nested
    # pin the PARTITION DIRECTORY's stat back — the adversarial case the
    # old immediate-children walk could not distinguish
    os.utime(src, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns))
    id2, tag2 = file_identity(str(table)), identity_tag(str(table))
    assert id1 != id2 and tag1 != tag2

    # stable when nothing changes
    assert file_identity(str(table)) == id2
    assert identity_tag(str(table)) == tag2
    # a missing source names no cache
    with pytest.raises(FileNotFoundError):
        identity_tag(str(tmp_path / "missing.parquet"))


def test_segmented_cube_union_and_per_segment_pushdown(spark, sf_dir, tmp_path):
    """§2.7: a cube over disjoint hot/cold segments answers identically to
    the unsplit table, via a Union of independent scans with the filter
    pushed into EACH segment scan."""
    from activecube_graphql_spark.cubes import EventsCube
    from activecube_graphql_spark.plans.segments import attach_split_events

    cube = attach_split_events(spark, sf_dir, cache_root=str(tmp_path))

    def q(c):
        return (c.query().slice("event_type")
                .measure("count", alias="cnt")
                .when({"event_type": "click"}))

    split_rows = sorted(map(tuple, q(cube).df().collect()))
    plain_rows = sorted(map(tuple, q(EventsCube(spark, sf_dir)).df().collect()))
    assert split_rows == plain_rows
    assert split_rows  # non-degenerate

    plan = q(cube).df()._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert "Union" in final
    assert final.count("FileScan parquet") == 2  # one scan per segment
    # the selector filter reaches both parquet scans
    assert final.count("PushedFilters: [IsNotNull(event_type)") == 2


def test_segmented_cube_streaming_twin(spark, sf_dir, tmp_path):
    """The same segmented cube compiles as a streaming union (stream
    twins keep working over base_tables)."""
    from activecube_graphql_spark.plans.segments import attach_split_events

    cube = attach_split_events(spark, sf_dir, cache_root=str(tmp_path))
    sdf = cube.stream_table()
    assert sdf.isStreaming


def test_pack_chunks_single_exchange(spark, sf_dir):
    """Sequence packing: the per-chunk groupBy must REUSE the window's
    hash partitioning on `source` — exactly one Exchange in the plan."""
    from activecube_graphql_spark.operators.text import pack_chunks
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = fmt(pack_chunks(docs))
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange == 1, plan


def test_profile_single_scan(spark, sf_dir):
    """Profiling computes every column's counters in ONE pass: a single
    parquet scan feeding one aggregate chain (Expand replicates rows
    in-memory for the multi-distinct, not by re-scanning)."""
    from activecube_graphql_spark.operators.profile import profile_columns
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = fmt(profile_columns(docs, ["doc_id", "lang", "source"]))
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans == 1, plan


def test_repetition_trigram_path_map_only(spark, sf_dir):
    """The dup-trigram fraction must not shuffle: project the base
    columns and confirm zero Exchanges in that sub-plan."""
    from activecube_graphql_spark.operators.text import (
        TRIGRAMS_OF_TOKENS, DUP_TRIGRAM_FRAC_OF, TOKENS, _col)
    from activecube_graphql_spark.functions.portable import render
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tri_only = (docs.select(F.col("doc_id"),
                            _col(TOKENS, "text").alias("toks"))
                .withColumn("tri", F.expr(render(
                    TRIGRAMS_OF_TOKENS.format(toks="toks"), "spark")))
                .select("doc_id", F.expr(render(
                    DUP_TRIGRAM_FRAC_OF.format(tri="tri"), "spark"))
                    .alias("dup_trigram_frac")))
    plan = fmt(tri_only)
    assert not re.search(r"\(\d+\) Exchange", plan), plan


def test_zorder_bounds_both_dims(spark, sf_dir, tmp_path):
    """Z-order clustering must bound per-file spans in BOTH dimensions,
    where single-column range clustering leaves the second dimension's
    span at ~100% per file."""
    from pyspark.sql import functions as F
    from activecube_graphql_spark.plans.compaction import (
        cluster_parquet, zcluster_parquet)
    src = str(tmp_path / "src")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("user_id", "value")
    ev.write.parquet(src)
    lo_u, hi_u, lo_v, hi_v = ev.agg(
        F.min("user_id"), F.max("user_id"),
        F.min("value"), F.max("value")).first()

    def spans(path):
        df = (spark.read.parquet(path)
              .withColumn("f", F.input_file_name())
              .groupBy("f")
              .agg(((F.max("user_id") - F.min("user_id"))
                    / float(hi_u - lo_u)).alias("su"),
                   ((F.max("value") - F.min("value"))
                    / float(hi_v - lo_v)).alias("sv")))
        rows = df.collect()
        n = len(rows)
        return (n, sum(r["su"] for r in rows) / n,
                sum(r["sv"] for r in rows) / n)

    zdst, rdst = str(tmp_path / "z"), str(tmp_path / "r")
    nz = zcluster_parquet(spark, src, zdst, "user_id", "value",
                          target_mb=0.0004)
    nr = cluster_parquet(spark, src, rdst, ["user_id"],
                         target_mb=0.0004)
    assert nz >= 8 and nr >= 8                  # the test needs real fan-out
    _, z_su, z_sv = spans(zdst)
    _, r_su, r_sv = spans(rdst)
    assert z_su < 0.6 and z_sv < 0.6, (z_su, z_sv)   # both dims bounded
    # the comparative claim is the point: range-clustering nails dim 1
    # but leaves dim 2 ~wide open; Z bounds both
    assert r_su < z_su, (r_su, z_su)
    assert r_sv > 1.5 * z_sv, (r_sv, z_sv)


def _hot_shingle_docs(spark, n_docs=24):
    """Docs sharing one boilerplate 3-gram (df = n_docs) plus a unique
    tail each — the hot-key shape the split-salted path exists for."""
    rows = [(i, f"copyright acme corp unique{i} tail{i} words{i} here{i}")
            for i in range(n_docs)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@contextlib.contextmanager
def _no_broadcast(spark):
    """Pin the hot-path join to a SHUFFLE join: at test scale AQE
    broadcasts everything, which would hide the salted Exchange the
    audit must see (at 100 TB the sides are far beyond the broadcast
    threshold — the shuffle shape is the production shape)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_containment_skew_routing_salted_and_exact(spark):
    """VERDICT r4 item 10: a measured df probe routes hot shingles
    through plans/skew.split_salted_join. The Exchange must partition
    on (shingle, __aq_salt) for the hot path, and the routed result
    must be bit-identical to the plain join (pure physical rewrite)."""
    from activecube_graphql_spark.operators import dedup as dd

    docs = _hot_shingle_docs(spark)
    with _no_broadcast(spark):
        salted = dd.ngram_containment_pairs(docs, n=3, threshold=0.1,
                                            max_df=100, skew_df=10)
        plan = fmt(salted)
        assert re.search(r"hashpartitioning\([^)]*__aq_salt", plan), plan
        salted_rows = salted.collect()
    plain = dd.ngram_containment_pairs(docs, n=3, threshold=0.1,
                                       max_df=100, skew_df=10**9)
    assert "__aq_salt" not in fmt(plain)
    key = lambda r: (r["id_a"], r["id_b"], r["containment"])
    assert sorted(map(key, salted_rows)) == \
        sorted(map(key, plain.collect()))
    assert salted_rows  # non-degenerate: the hot key produced pairs


def test_decontamination_shuffle_salted_routing(spark):
    """When the 'benchmark' side is too big to broadcast, the shingle
    join shuffles; hot shingles (measured on the bench-side df) take
    the split-salted path. Same flags as the broadcast path."""
    from activecube_graphql_spark.operators import dedup as dd

    train = _hot_shingle_docs(spark)
    bench = _hot_shingle_docs(spark).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text")
    with _no_broadcast(spark):
        salted = dd.decontamination_overlap(
            train, bench, min_shared=1,
            bench_broadcast_docs=0, skew_df=2)
        plan = fmt(salted)
        assert re.search(r"hashpartitioning\([^)]*__aq_salt", plan), plan
        salted_rows = salted.collect()
    default = dd.decontamination_overlap(train, bench, min_shared=1)
    key = lambda r: (r["train_id"], r["bench_id"], r["shared"])
    assert sorted(map(key, salted_rows)) == \
        sorted(map(key, default.collect()))
    assert salted_rows


def test_decontamination_measured_work_model_salts(spark):
    """The product work model (skew_df=None) must route a measured-hot
    shingle through the salted path: df_t*df_b for the shared shingle
    exceeds thr = max(4096, 4*ss/parts), the hot set is collected to
    the driver (provably <= parts/4 keys by the Markov bound — the r06
    replacement for localCheckpoint, whose executor-local blocks are
    unrecoverable after executor loss), and the result stays
    bit-identical to the plain shuffle join."""
    from activecube_graphql_spark.operators import dedup as dd

    hot = [(i, "aaa bbb ccc filler%d" % i) for i in range(70)]
    train = spark.createDataFrame(hot, ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(i + 1000, t) for i, t in hot], ["doc_id", "text"])
    # the work-model threshold is max(4096, 4*ss/parts): the fixture's
    # hot shingle carries w = 70*70 = 4900, which only clears it when
    # parts >= 4*9800/4900 = 8 keeps 4*ss/parts below 4096 — pin the
    # conf so the route fires whatever partition count the session
    # carries (a cluster profile may have lowered it)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        with _no_broadcast(spark):
            salted = dd.decontamination_overlap(
                train, bench, min_shared=1, bench_broadcast_docs=0)
            plan = fmt(salted)
            assert re.search(r"hashpartitioning\([^)]*__aq_salt", plan), plan
            salted_rows = salted.collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    default = dd.decontamination_overlap(train, bench, min_shared=1)
    key = lambda r: (r["train_id"], r["bench_id"], r["shared"])
    assert sorted(map(key, salted_rows)) == \
        sorted(map(key, default.collect()))
    assert len(salted_rows) == 70 * 70  # every train x bench pair shares


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Runtime bloom-filter semi-join reduction (InjectRuntimeFilter):
    when a shuffle join's build side is selectively filtered, Spark can
    inject a bloom filter of the build keys into the probe-side scan —
    at 100 TB this skips most of the fact table before the shuffle, the
    same role ClickHouse PK pruning played under activecube. The
    thresholds are production-scale (10 GB probe side), so the audit
    lowers them to prove the plan shape is *available* to our join
    pipelines; broadcast is disabled because runtime filters target
    shuffle joins (broadcast joins get DPP instead)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
                  .filter("o_orderpriority = '1-URGENT'"))
        from pyspark.sql import functions as F
        joined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
                  .groupBy("o_orderpriority")
                  .agg(F.count(F.lit(1)).alias("cnt")))
        plan = fmt(joined)
        assert "might_contain" in plan or "bloom_filter" in plan.lower(), \
            plan[:4000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cluster_profile_sizing_and_guard():
    """cluster_profile (r11, VERDICT r10 item 8) arithmetic: partition
    counts scale with data size and floor at 2x cores; every key is a
    runtime-settable spark.sql conf; the semantic-conf guard refuses
    overlays that would change what a query computes."""
    import pytest as _pytest

    from activecube_graphql_spark import session as S

    p100 = S.cluster_profile(100.0)  # 100 TB, 1000x4 cores
    assert int(p100["spark.sql.shuffle.partitions"]) >= 500_000
    assert (p100["spark.sql.adaptive.coalescePartitions."
                 "initialPartitionNum"]
            == p100["spark.sql.shuffle.partitions"])
    tiny = S.cluster_profile(0.001, executors=4, cores_per_executor=4)
    assert int(tiny["spark.sql.shuffle.partitions"]) == 32  # 2x cores
    assert all(k.startswith("spark.sql.") for k in p100)
    assert not set(p100) & S.SEMANTIC_CONFS
    with _pytest.raises(ValueError, match="semantic conf"):
        S.apply_cluster_profile(
            None, {"spark.sql.session.timeZone": "PST"})


def _profile_invariance(spark, sf_dir, names=None):
    """Assert registry rows' normalized analyzed-plan fingerprints
    equal the committed graded-manifest stamps WITH the 100 TB profile
    applied. A profile conf that leaked into semantics — timezone,
    ansi, a legacy parser flag — would flip fingerprints here and void
    evidence mechanically; execution-only confs cannot reach the
    analyzed plan."""
    import json
    import os

    from activecube_graphql_spark import session as S
    from activecube_graphql_spark.driver_queries import QUERIES
    from activecube_graphql_spark.plans.fingerprint import (
        plan_fingerprint,
    )

    manifest = json.load(open(os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "graded_manifest.json")))
    # locally-sized instance of the SAME overlay: semantic leakage is a
    # property of WHICH confs the profile sets, not their numeric
    # values, and the 100 TB values (500k+ shuffle partitions) would
    # make the build-time-training rows schedule half a million tasks
    # on local[32]. Pin that the key set IS the 100 TB key set.
    local = S.cluster_profile(0.01, executors=16, cores_per_executor=2)
    assert set(local) == set(S.cluster_profile(100.0))
    prior = S.apply_cluster_profile(spark, local)
    try:
        # skew_salted_join is the one row whose LOGICAL plan carries an
        # execution literal by design: its anti-coalesce pin is a
        # REPARTITION_BY_NUM sized from the session's shuffle-partition
        # conf (BENCH_NOTES r06 scale lesson), so the overlay moves
        # that literal. Results are conf-independent (the graded oracle
        # row is the plain join); everything else must be invariant.
        bad = []
        for name in (names or QUERIES):
            if name == "skew_salted_join":
                continue
            entry = manifest.get(name)
            if not isinstance(entry, dict) or "plan" not in entry:
                continue
            got = plan_fingerprint(QUERIES[name](spark, sf_dir))
            if got != entry["plan"]:
                bad.append(name)
        assert not bad, (
            f"cluster profile changed the ANALYZED plan of {bad} — an "
            "execution overlay must never move semantics")
    finally:
        S.restore_confs(spark, prior)


def test_cluster_profile_plan_invariance_full_registry(spark):
    """Full registry at sf0.001 — the exact contract the graded
    manifest pins (fingerprints are sf-normalized, and sf0.001 is the
    manifest's own stamping SF; rows that train driver-side state at
    build time make sf0.1 a multi-minute pass, covered by the subset
    twin below)."""
    _profile_invariance(spark, "/root/testdata/sf0.001")


def test_cluster_profile_plan_invariance_sf01_subset(spark):
    """Structural subset at sf0.1 (VERDICT r10 item 8 wording): rows
    spanning the engine's join/window/preagg/variant/streaming-twin
    shapes, fingerprinted profile-ON vs profile-OFF at the bench SF.
    (Compared pairwise at the same SF rather than vs the manifest:
    bucketed_join legitimately sizes its bucket count from the data,
    so its fingerprint is per-SF — what must hold is that the PROFILE
    moves nothing at a fixed SF.)"""
    from activecube_graphql_spark import session as S
    from activecube_graphql_spark.driver_queries import QUERIES
    from activecube_graphql_spark.plans.fingerprint import (
        plan_fingerprint,
    )

    names = ["flagship_revenue", "semi_anti", "bucketed_join",
             "star_join_region", "asof_join", "window_analytics",
             "limit_by", "preagg_rollup", "sketch_rollup",
             "variant_json", "curated_survivors", "winnow_fp",
             "trigram_lm", "multimodal_png"]
    sf_dir = "/root/testdata/sf0.1"
    base = {n: plan_fingerprint(QUERIES[n](spark, sf_dir))
            for n in names}
    local = S.cluster_profile(0.01, executors=16, cores_per_executor=2)
    prior = S.apply_cluster_profile(spark, local)
    try:
        bad = [n for n in names
               if plan_fingerprint(QUERIES[n](spark, sf_dir))
               != base[n]]
        assert not bad, (
            f"cluster profile changed the ANALYZED plan of {bad} at "
            "sf0.1 — an execution overlay must never move semantics")
    finally:
        S.restore_confs(spark, prior)


def test_ensure_parallelism_plan_ignores_host_cores(spark, sf_dir,
                                                    monkeypatch):
    """ensure_parallelism's Repartition lands in the ANALYZED plan, so
    its count must not follow the host's cores: with SparkContext's
    defaultParallelism patched to 7, a single-file frame fans out to the
    same plan as on the real host, on both the default and the
    ``bytes_per_task`` path. The manifest checks above see a host count
    in a plan only on hosts whose core count differs from the stamping
    host's; this sees it on any host."""
    from pyspark import SparkContext

    from activecube_graphql_spark.operators.dedup import (
        ensure_parallelism,
    )
    from activecube_graphql_spark.plans.fingerprint import (
        plan_fingerprint,
    )

    frame = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert len(frame.inputFiles()) == 1

    def fingerprints():
        # 1 KiB per task asks for more tasks than any cap: the cap decides
        fanned = [ensure_parallelism(frame),
                  ensure_parallelism(frame, bytes_per_task=1024)]
        for df in fanned:
            assert "Repartition" in \
                df._jdf.queryExecution().analyzed().toString()
        return [plan_fingerprint(df) for df in fanned]

    host = fingerprints()
    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda self: 7))
    assert spark.sparkContext.defaultParallelism == 7
    assert fingerprints() == host


# --------------------------------------------------------------------
# Registry sweep: one table of plan rules over every QUERIES row, built
# once per session at sf0.001 (conftest ``registry``). Each rule reads
# the row's returned physical plan; rules 1-2 also read the plan of
# every eager action the build ran. Every allowlist is exact in both
# directions: a listed row that no longer shows its pattern fails as
# stale. To add a row: build it, run this test, and enter what it
# reports in the table it names, with the reason.
# --------------------------------------------------------------------

#: Rule 1 — no CartesianProduct anywhere; a BroadcastNestedLoopJoin
#: only where a tiny broadcast side IS the design — anywhere else a
#: join lost its keys.
NLJ_BY_DESIGN = {
    "value_bands": "broadcast band table",
    "embed_topk": "broadcast-query fan-out",
    "embed_range": "broadcast-query fan-out",
    "knn_vote": "broadcast-query fan-out",
    "hard_negatives": "broadcast-query fan-out",
    "semantic_decontam": "broadcast-bench fan-out",
    "mmr_rerank": "broadcast-query fan-out",
    "ann_recall_audit": "embed_topk's brute-force arm",
    "tfidf_terms": "1-row N-scalar crossJoin",
    "bm25_topk": "1-row N/avgdl-stats crossJoin",
    "heavy_hitters": "1-row total-error crossJoin",
    "unigram_lm": "1-row totals crossJoin",
    "bigram_lm": "1-row totals crossJoin",
    "trigram_lm": "1-row totals crossJoin",
    "trigram_kn": "1-row KN-globals crossJoin",
    "kn_buckets": "KN globals + 1-row thresholds crossJoin",
    "lm_buckets": "1-row threshold crossJoin",
    "trigram_buckets": "trigram totals + 1-row thresholds crossJoin",
    "bloom_decontam": "1-row bloom-bitmap crossJoin",
    "source_kl": "top-V spine crossJoin",
}

#: Rule 2 — a partition-less WindowExec sorts its whole input in ONE
#: task. Allowed (exact node count) only over an input whose size does
#: not grow with the corpus; never in a build-time action.
UNPARTITIONED_WINDOWS = {
    "kn_buckets": (2, "cum + total over the avg_kn value-count frame: "
                      "one row per 4dp grid value"),
    "lm_buckets": (2, "cum + total over the avg_logp value-count "
                      "frame: one row per 4dp grid value"),
    "trigram_buckets": (2, "cum + total over the avg_logp3 value-count "
                           "frame: one row per 4dp grid value"),
    "bm25_topk": (1, "rank over the orderBy().limit(k) top-k"),
    "heavy_hitters": (1, "rank over the orderBy().limit(k) top-k"),
    "token_mixture": (1, "sampling.mixture_sample strata totals: one "
                         "row per source"),
    "mixture_sample": (1, "sampling.mixture_sample strata totals: one "
                          "row per source"),
}

#: Rule 3 — rows whose plan reads a persisted frame (InMemoryRelation),
#: each with the code that persists it; the frames are released by
#: clearCache at pipeline boundaries (dedup.py module docstring) and
#: must be reused, not re-cached, by a rebuild (test below).
PERSISTED = {
    "ann_recall_audit": "q_ann_recall_audit: the shared ann_corpus_encode "
                        "frame",
    "bloom_decontam": "dedup.bloom_decontam: bench fingerprints",
    "char_dup": "dedup.char_ngram_dup_pairs: selected-gram frame",
    "containment": "dedup.ngram_containment_pairs: shingle index + kept "
                   "df frame",
    "edit_verified": "dedup.ngram_jaccard_pairs (candidates): shingle "
                     "frame + packed bitmap",
    "heavy_hitters": "profile.heavy_hitters: per-partition summaries",
    "kn_buckets": "q_kn_buckets score frame + text.trigram_kn_logprob "
                  "type frames",
    "lm_buckets": "q_lm_buckets: per-doc score frame",
    "minhash_lsh_verified": "dedup.minhash_lsh_verified: signatures + "
                            "shingle sets",
    "ngram_jaccard": "dedup.ngram_jaccard_pairs: shingle frame + packed "
                     "bitmap",
    "source_dup_matrix": "dedup.minhash_lsh_verified: signatures + "
                         "shingle sets",
    "source_kl": "text.source_vocab_divergence: (source, term) counts",
    "trigram_buckets": "q_trigram_buckets score frame; c_tri is "
                       "text.trigram_kn_logprob's (the CacheManager "
                       "matches trigram_kn's earlier build)",
    "trigram_kn": "text.trigram_kn_logprob: c_tri + cc type frames",
    "trigram_lm": "none of its own: c_tri is text.trigram_kn_logprob's "
                  "(the CacheManager matches trigram_kn's earlier build)",
}

_DOC_ID_SCAN = r"ReadSchema: struct<doc_id:bigint>"
_PYTHON = r"MapInPandas|PythonUDF"
#: doc_id-only scan fanned out by ONE round-robin exchange of bare ids,
#: then two chained Arrow stages (encode, decode): payloads never shuffle
_FANNED_CODEC = {"Exchange": 1, "(?i)roundrobin": 1, "MapInPandas": 2,
                 _DOC_ID_SCAN: 1}
#: the same, map-only: the codec is too cheap per id to buy a fan-out
_MAP_ONLY_CODEC = {"Exchange": 0, "MapInPandas": 2, _DOC_ID_SCAN: 1}

#: Rule 4 — exact counts of regexes in executedPlan().toString(). Never
#: pin a partition number: those follow the host.
PINS = {
    # partial WindowGroupLimit below the exchange + final above it
    "source_cap": {"WindowGroupLimit": 2},
    "top_terms": {"partial_count": 1, "WindowGroupLimit": 2},
    # the small side broadcasts; the large side never shuffles to join
    "decontam": {"BroadcastHashJoin": 1, "SortMergeJoin": 0},
    "histogram": {"BroadcastHashJoin": 1, "SortMergeJoin": 0},
    "value_bands": {"BroadcastNestedLoopJoin": 1},
    # scan-side projection: pipelines with the parquet read
    "quality_rules": {"Exchange": 0},
    # all codegen; both windows share ONE doc-keyed exchange
    "winnow_fp": {"MapInPandas|ArrowEval|BatchEval": 0, "Exchange": 4,
                  r"Exchange hashpartitioning\(id#\d+L, \d+\)": 1,
                  r"\bWindow\b": 2},
    "multimodal_decode": _MAP_ONLY_CODEC,
    "multimodal_png": _MAP_ONLY_CODEC,
    "multimodal_audio": _MAP_ONLY_CODEC,
    "audio_mp3_walk": _MAP_ONLY_CODEC,
    "multimodal_jpeg": _FANNED_CODEC,
    "multimodal_gif": _FANNED_CODEC,
    "video_frames": _FANNED_CODEC,
    "video_sample": _FANNED_CODEC,
    "video_mp4": _FANNED_CODEC,
    "audio_flac": _FANNED_CODEC,
    # crawl ingestion: map-only; parser = 1 Arrow stage, WARC member
    # build + record walk + extraction = 3
    "html_extract": {"Exchange": 0, "MapInPandas": 1,
                     "ReadSchema: struct<doc_id:bigint,text:string": 1},
    "warc_records": {"Exchange": 0, "MapInPandas": 3,
                     "ReadSchema: struct<doc_id:bigint,text:string": 1},
    # member build + walk + extraction fused into ONE kernel; the only
    # shuffles are the fingerprint dedup and the source rollup
    "warc_pipeline": {"MapInPandas": 1, "Exchange hashpartitioning": 2,
                      "HashAggregate": 2},
    # encode + scan Arrow stages; the one exchange feeds the bounded
    # final cut over partitions × Q × k candidates
    "embed_pq_ann": {"MapInPandas": 2, "Exchange": 1, "Window": 3},
    # one Arrow stage; token rollup partial-aggregates at both levels
    "bpe_tokens": {"MapInPandas": 1, "HashAggregate": 4, "Exchange": 2},
    # scoring is CASE literals; the only exchange is the final rollup
    "quality_model": {_PYTHON: 0, "Exchange hashpartitioning": 1},
    # the persisted type frames materialize as InMemory scans
    "trigram_kn": {_PYTHON: 0, "InMemoryTableScan": 13},
    # window-count marking: no cached frame, two hash exchanges
    "dup_spans": {_PYTHON: 0, "InMemoryTableScan": 0,
                  "Exchange hashpartitioning": 2},
    # the probe table broadcasts; hash exchanges feed the per-query
    # windows only; centroids are literals
    "embed_ivf_trained": {_PYTHON: 0, "BroadcastHashJoin": 1,
                          "Exchange hashpartitioning": 2},
}


def _nodes(plan):
    """Every physical node under a JVM plan, through AQE's input plan,
    subqueries and the plans of persisted frames."""
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.inputPlan())
            continue
        yield node
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
        if cls == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())


def _unpartitioned_windows(plan) -> int:
    # read from the node: the string form just omits an empty spec
    return sum(1 for n in _nodes(plan)
               if n.getClass().getSimpleName() == "WindowExec"
               and n.partitionSpec().isEmpty())


def _exact(rule: str, seen: dict, allowed: dict) -> list[str]:
    """Rows whose plan shows ``rule`` without an entry, and entries
    that no longer match their row's plan (``seen``/``allowed``: row →
    count)."""
    return [f"{n}: {rule} x{seen[n]}, not allowlisted" if n not in allowed
            else f"{n}: {rule} entry x{allowed[n]}, plan has "
                 f"x{seen.get(n, 0)}"
            for n in sorted(set(seen) | set(allowed))
            if seen.get(n) != allowed.get(n)]


def _join_failures(registry) -> list[str]:
    """Rule 1 over every row and every build-time action."""
    bad, nlj = [], {}
    for name, row in registry.items():
        for action, plan in row.actions:
            if "CartesianProduct" in plan.toString():
                bad.append(f"{name}: build-time {action} plans a "
                           "CartesianProduct")
        if "CartesianProduct" in row.text:
            bad.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in row.text:
            nlj[name] = 1
    return bad + _exact("BroadcastNestedLoopJoin", nlj,
                        dict.fromkeys(NLJ_BY_DESIGN, 1))


def _pin_failures(registry, names) -> list[str]:
    """Rule 4 for ``names``."""
    return [f"{name}: {pat!r} x{got}, pinned x{want}"
            for name in names
            for pat, want in PINS[name].items()
            if (got := len(re.findall(pat, registry[name].text))) != want]


def test_registry_plan_invariants(registry):
    bad = [f"{n}: pinned but not in the registry"
           for n in sorted(set(PINS) - set(registry))]
    bad += _join_failures(registry)
    windows, persisted = {}, {}
    for name, row in registry.items():
        for action, plan in row.actions:
            if _unpartitioned_windows(plan):
                bad.append(f"{name}: build-time {action} runs a "
                           "partition-less window")
        if "InMemoryRelation" in row.text:
            persisted[name] = 1
        if n := _unpartitioned_windows(row.plan):
            windows[name] = n
    bad += _pin_failures(registry, sorted(set(PINS) & set(registry)))
    bad += _exact("partition-less windows", windows,
                  {n: c for n, (c, _) in UNPARTITIONED_WINDOWS.items()})
    bad += _exact("InMemoryRelation", persisted,
                  dict.fromkeys(PERSISTED, 1))
    assert not bad, "\n".join(bad)


# Named views over the table above: each checks the sweep's entries for
# the rows its name covers, from the same session build.

def _assert_pins(registry, *names):
    bad = _pin_failures(registry, names)
    assert not bad, "\n".join(bad)


def test_no_cartesian_in_any_driver_row(registry):
    bad = _join_failures(registry)
    assert not bad, "\n".join(bad)


def test_source_cap_ranks_map_side(registry):
    _assert_pins(registry, "source_cap")


def test_decontam_broadcasts_bench_side(registry):
    _assert_pins(registry, "decontam")


def test_quality_rules_stay_map_only(registry):
    _assert_pins(registry, "quality_rules")


def test_top_terms_partial_aggregates_before_shuffle(registry):
    _assert_pins(registry, "top_terms")


def test_band_join_broadcasts_band_table(registry):
    assert "CartesianProduct" not in registry["value_bands"].text
    _assert_pins(registry, "value_bands")


def test_histogram_stats_frame_broadcasts(registry):
    _assert_pins(registry, "histogram")


def test_winnow_fp_plan_shape(registry):
    _assert_pins(registry, "winnow_fp")


def test_multimodal_decode_plan_shape(registry):
    _assert_pins(registry, "multimodal_decode")


def test_multimodal_png_plan_shape(registry):
    _assert_pins(registry, "multimodal_png")


def test_media_codec_rows_plan_shapes(registry):
    _assert_pins(registry, "multimodal_jpeg", "multimodal_gif",
                 "video_frames", "video_sample", "video_mp4",
                 "multimodal_audio", "audio_flac")


def test_ingestion_rows_plan_shapes(registry):
    _assert_pins(registry, "html_extract", "warc_records")


def test_warc_pipeline_plan_shape(registry):
    _assert_pins(registry, "warc_pipeline")


def test_pq_and_bpe_rows_plan_shapes(registry):
    _assert_pins(registry, "embed_pq_ann", "bpe_tokens")


def test_r16_rows_plan_shapes(registry):
    _assert_pins(registry, "audio_mp3_walk", "quality_model", "trigram_kn",
                 "dup_spans", "embed_ivf_trained")


def test_persisted_frames_are_reused(spark, sf_dir):
    """Building and collecting a Rule-3 row a second time in the same
    session adds no persisted RDD: the rebuild's frames match the
    first build's plans, so the CacheManager hands back the cached
    ones instead of caching a copy per build."""
    from activecube_graphql_spark.driver_queries import QUERIES

    def persisted_ids() -> set[int]:
        # ids, not a count: the map also lists RDDs persisted for frames
        # that earlier tests dropped (localCheckpoint), and a JVM GC
        # removes those at an arbitrary point, lowering a count
        return set(spark.sparkContext._jsc.getPersistentRDDs()
                   .keySet().toArray())

    grew = []
    for name in PERSISTED:
        QUERIES[name](spark, sf_dir).collect()
        before = persisted_ids()
        QUERIES[name](spark, sf_dir).collect()
        added = persisted_ids() - before
        if added:
            grew.append((name, sorted(added)))
    assert not grew, grew
