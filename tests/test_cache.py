"""The engine's one memo discipline (cache.py): a bounded, thread-safe
LRU plus a stale-proof file key, and the cube-level behaviour built on
it (plan cache bound, one entry per spec, representation choice paid
once)."""

from __future__ import annotations

import datetime
import sys
import threading

import pyarrow as pa
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
    for i in range(129):
        cube.query().slice("returnflag").measure("count").limit(i + 1).df()
        assert hot().df() is hot_df
    assert len(cube.plan_cache) == 128
    assert hot().cache_key() in cube.plan_cache
    assert hot().df() is hot_df


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
    assert as_date.df() is not as_str.df()


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
