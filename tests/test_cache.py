"""The engine's one cache discipline (cache.py): a bounded, thread-safe
LRU plus the one stale-proof file key, and the cube-level behaviour
built on it (plan cache bound, one entry per spec, representation
choice paid once, a hit that sees a table rewrite and runs its own
jobs, one shared relation per unchanged file, introspection that sees
a column type rewrite)."""

from __future__ import annotations

import datetime
import pathlib
import shutil
import sys
import threading

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from activecube_graphql_spark.cache import CAPACITY, Memo
from activecube_graphql_spark.cubes import SalesCube
from activecube_graphql_spark.model import Cube
from activecube_graphql_spark.plans.preagg import attach_daily_rollup
from activecube_graphql_spark.server import execute
from activecube_graphql_spark.sources.registry import read_parquet
from activecube_graphql_spark.stats import execute as stats_execute


def test_memo_is_bounded_lru():
    memo = Memo()
    memo.get_or_compute("hot", object)
    for i in range(10_000):
        memo.get_or_compute(i, object)
        hot = memo.get_or_compute("hot", lambda: pytest.fail("evicted"))
    assert CAPACITY == 128
    assert len(memo) == 128
    assert "hot" in memo
    assert memo.get_or_compute("hot", object) is hot
    assert 0 not in memo  # the oldest cold keys went first


def test_memo_stores_no_exception():
    memo = Memo()

    def boom():
        raise RuntimeError("compute failed")

    with pytest.raises(RuntimeError):
        memo.get_or_compute("k", boom)
    assert len(memo) == 0 and "k" not in memo
    assert memo.get_or_compute("k", lambda: 7) == 7


def test_memo_concurrent_computes_share_first_insert():
    """All 8 threads miss and compute at once (the barrier only opens
    when all of them are inside ``fn``, so the lock cannot be held
    there); every caller gets the one stored object."""
    memo = Memo()
    barrier = threading.Barrier(8, timeout=30)
    got: list = [None] * 8

    def compute():
        barrier.wait()
        return object()

    def worker(i):
        got[i] = memo.get_or_compute("k", compute)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert all(g is got[0] for g in got) and got[0] is not None
    assert len(memo) == 1


def test_memo_stays_bounded_under_contention():
    """16 threads (more than cores) over 300 keys with a 10 µs switch
    interval: every caller gets its own key's value, the bound holds."""
    memo = Memo()
    wrong: list = []
    finished: list = []

    def worker(seed):
        for i in range(2000):
            k = (seed * 7919 + i * 31) % 300
            if memo.get_or_compute(k, lambda: ("v", k)) != ("v", k):
                wrong.append(k)
        finished.append(seed)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(s,))
                   for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert not wrong and len(finished) == 16
    assert len(memo) == CAPACITY


def test_read_parquet_sees_in_place_part_rewrite(spark, tmp_path):
    """A part file rewritten under the same name leaves the directory's
    own size and mtime alone; the schema memo must still miss."""
    table = tmp_path / "t"
    table.mkdir()
    part = table / "part-0.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), part)
    assert read_parquet(spark, str(table)).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [3.5]}), part)
    df = read_parquet(spark, str(table))
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 3.5)]


def test_plan_cache_is_bounded_and_keeps_the_hot_spec(spark, sf_dir):
    cube = SalesCube(spark, sf_dir)

    def hot():
        return cube.query().slice("linestatus").measure("count", alias="c")

    hot_df = hot().df()
    hot_plan = hot()._cached()[0]
    for i in range(129):
        cube.query().slice("returnflag").measure("count").limit(i + 1).df()
        assert hot()._cached()[0] is hot_plan
    assert len(cube.plan_cache) == 128
    assert hot().cache_key() in cube.plan_cache
    again = hot().df()
    assert again is not hot_df
    assert again._jdf.queryExecution().analyzed().equals(hot_plan)
    assert hot()._cached()[0] is hot_plan


def test_plan_cache_keys_values_by_type(spark, sf_dir):
    """A date and its ISO string print differently (DATE '…' vs '…'), so
    they never share a plan-cache entry."""
    cube = SalesCube(spark, sf_dir)

    def q(v):
        return (cube.query().slice("returnflag").measure("count")
                .when({"shipdate": {"lteq": v}}))

    as_date, as_str = q(datetime.date(1998, 1, 1)), q("1998-01-01")
    assert as_date.to_sql() != as_str.to_sql()
    assert as_date.cache_key() != as_str.cache_key()
    assert as_date._cached()[0] is not as_str._cached()[0]


def test_aliased_identical_fields_share_one_plan(spark, sf_dir):
    cube = SalesCube(spark, sf_dir)
    out = execute({"sales": cube}, """
      query { a: sales(returnflag: "R") { linestatus cnt: count }
              b: sales(returnflag: "R") { linestatus cnt: count } }""")
    assert "errors" not in out, out
    assert out["data"]["a"] == out["data"]["b"] and out["data"]["a"]
    assert len(cube.plan_cache) == 1


def test_stats_mode_estimates_sizes_once_per_spec(spark, sf_dir, tmp_path,
                                                  monkeypatch):
    cube = SalesCube(spark, sf_dir)
    assert cube.representation_choice == "stats"
    attach_daily_rollup(cube, sf_dir, cache_root=str(tmp_path))
    calls = []
    size = Cube.plan_size_bytes

    def counted(df):
        calls.append(1)
        return size(df)

    monkeypatch.setattr(Cube, "plan_size_bytes", staticmethod(counted))

    def q():
        return cube.query().slice("returnflag").measure("revenue")

    counts, names = [], []
    for _ in range(3):
        _, stats = stats_execute(q())
        counts.append(len(calls))
        names.append(stats.representation)
    # first call: one estimate for raw + one for the rollup; repeats: none
    assert counts == [2, 2, 2]
    assert len(set(names)) == 1


def _identity(spark, obj) -> int:
    return spark._jvm.java.lang.System.identityHashCode(obj)


def test_plan_cache_hit_sees_a_table_rewrite(spark, sf_dir, tmp_path):
    """A plan-cache hit after ``lineitem.parquet`` is rewritten in place
    serves the new rows, never the rows of the plan a caller already
    executed."""
    src = tmp_path / "sf"
    shutil.copytree(sf_dir, src, copy_function=shutil.copyfile)
    cube = SalesCube(spark, str(src))

    def q():
        return cube.query().slice("returnflag").measure("count", alias="c")

    rows, _ = stats_execute(q())
    before = {r[0]: r[1] for r in rows}
    assert sorted(before) == ["A", "N", "R"]
    lineitem = str(src / "lineitem.parquet")
    table = pq.read_table(lineitem)
    pq.write_table(table.filter(pc.equal(table["l_returnflag"], "R")),
                   lineitem)
    rows, _ = stats_execute(q())
    assert [tuple(r) for r in rows] == [("R", before["R"])]


def test_execute_sees_a_spark_overwrite_of_a_directory_table(
        spark, sf_dir, tmp_path):
    """A directory-backed table rewritten by Spark with
    ``mode("overwrite")`` gets new part-file names and its old parts are
    deleted: the next request serves the new rows and reads no deleted
    file."""
    src = tmp_path / "sf"
    shutil.copytree(sf_dir, src, copy_function=shutil.copyfile,
                    ignore=shutil.ignore_patterns("lineitem.parquet"))
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    table = str(src / "lineitem.parquet")
    lineitem.write.parquet(table)
    cube = SalesCube(spark, str(src))
    doc = "query { sales { returnflag count } }"
    before = execute({"sales": cube}, doc)
    assert "errors" not in before, before
    counts = {r["returnflag"]: r["count"] for r in before["data"]["sales"]}
    assert sorted(counts) == ["A", "N", "R"]
    old_parts = sorted(p.name for p in (src / "lineitem.parquet").iterdir())
    lineitem.filter("l_returnflag = 'R'").write.mode("overwrite") \
        .parquet(table)
    assert not set(old_parts) & {
        p.name for p in (src / "lineitem.parquet").iterdir()
        if p.name.startswith("part-")}
    after = execute({"sales": cube}, doc)
    assert "errors" not in after, after
    assert after["data"]["sales"] == [{"returnflag": "R",
                                       "count": counts["R"]}]


def test_type_introspection_sees_a_column_type_rewrite(spark, sf_dir,
                                                       tmp_path):
    """``__type`` over a cube whose ``lineitem.parquet`` is rewritten with
    a dimension column's type changed reports the new type: the schema
    memo keys on the identity of every table the cube reads."""
    src = tmp_path / "sf"
    shutil.copytree(sf_dir, src, copy_function=shutil.copyfile)
    cube = SalesCube(spark, str(src))
    doc = ('query { __type(name: "SalesRow") '
           '{ fields { name type { name ofType { name } } } } }')

    def returnflag_type():
        out = execute({"sales": cube}, doc)
        assert "errors" not in out, out
        field, = [f for f in out["data"]["__type"]["fields"]
                  if f["name"] == "returnflag"]
        t = field["type"]
        return t["name"] or t["ofType"]["name"]

    assert returnflag_type() == "String"
    lineitem = str(src / "lineitem.parquet")
    table = pq.read_table(lineitem)
    i = table.schema.get_field_index("l_returnflag")
    pq.write_table(table.set_column(
        i, "l_returnflag", pc.cast(table["l_returnflag"], pa.binary())),
        lineitem)
    assert returnflag_type() == "Binary"


def test_file_identity_is_the_only_stat_key():
    """One identity rule: no engine module but cache.py reads a file's
    mtime, so a second, drifting validity key cannot come back
    unnoticed."""
    root = pathlib.Path(__file__).resolve().parents[1] \
        / "activecube_graphql_spark"
    readers = sorted(str(p.relative_to(root)) for p in root.rglob("*.py")
                     if "st_mtime_ns" in p.read_text())
    assert readers == ["cache.py"]


def _job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, skipped stages, completed tasks) of one job group."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = [store.job(j) for j in sc.statusTracker().getJobIdsForGroup(group)]
    return (len(jobs), sum(j.numSkippedStages() for j in jobs),
            sum(j.numCompletedTasks() for j in jobs))


def test_repeated_execute_skips_no_stage(spark, sf_dir):
    """A repeated ``stats.execute`` runs the jobs and tasks its first
    run did. (AQE's result job always skips the map stage its own
    shuffle-stage job ran, so the first run's skipped count is not 0;
    re-collecting an executed frame would skip the shuffle job too.)"""
    cube = SalesCube(spark, sf_dir)
    sc = spark.sparkContext
    counts = []
    for i in range(3):
        group = f"repeat-execute-{i}"
        sc.setJobGroup(group, "repeated stats.execute")
        try:
            stats_execute(cube.query().slice("returnflag")
                          .measure("count", alias="c"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts.append(_job_counts(spark, group))
    assert counts[0][0] >= 1 and counts[0][2] >= 1, counts
    assert counts[1] == counts[0] and counts[2] == counts[0], counts


def test_reads_of_an_unchanged_file_share_one_relation(spark, tmp_path):
    """Every read of an unchanged file shares one relation (file index,
    inferred schema); a rewrite gets a new one. Each read keeps its own
    attributes, so two reads still self-join."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)

    def relation(df):
        return df._jdf.queryExecution().analyzed().relation()

    a, b = read_parquet(spark, str(path)), read_parquet(spark, str(path))
    first = relation(a)
    assert _identity(spark, relation(b)) == _identity(spark, first)
    assert a.join(b, a["a"] == b["a"]).count() == 2
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    c = read_parquet(spark, str(path))
    assert _identity(spark, relation(c)) != _identity(spark, first)
    assert sorted(r.a for r in c.collect()) == [1, 2, 3]


def test_concurrent_hits_on_one_entry_return_correct_rows(spark, sf_dir):
    """Eight threads (more than cores, 10 µs switch interval) hit one
    plan-cache entry at once; each gets its own DataFrame and the right
    rows."""
    cube = SalesCube(spark, sf_dir)

    def q(on=cube):
        return (on.query().slice("returnflag").measure("count", alias="c")
                .when({"linestatus": "F"}))

    fresh = SalesCube(spark, sf_dir)
    want = sorted(tuple(r) for r in q(fresh).df().collect())
    q().df()
    barrier = threading.Barrier(8, timeout=60)
    got: list = [None] * 8

    def worker(i):
        barrier.wait()
        got[i] = sorted(tuple(r) for r in q().df().collect())

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert want and all(g == want for g in got), got
    assert len(cube.plan_cache) == 1
