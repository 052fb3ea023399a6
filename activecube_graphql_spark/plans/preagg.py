"""Pre-aggregation builder + representation factory (SURVEY §4.3 — the one
custom optimizer worth building; the activecube gem's headline feature).

``build_daily_sales_rollup`` materializes a (returnflag, linestatus,
ship_date)-grain rollup of lineitem with *re-aggregatable* state: counts
and sums (avg = sum/count at query time), min/max. Algebraic aggregates
only — count_distinct is deliberately absent, so queries touching the
``orders``/``parts`` metrics are not covered and fall back to the raw
fact table (coverage correctness over coverage breadth).

At 100 TB: the rollup is ~|distinct grain| rows regardless of fact-table
size, it's produced by one shuffle at build time, and any covered query
scans it instead of the raw table — typically a 10³-10⁴× scan reduction.
The rollup parquet is partitioned by ship_date year so time-filtered
queries also get partition pruning on the rollup itself.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..cubes import _REVENUE_SQL
from ..model import Dimension, Metric, Representation, Selector

GRAIN_COLS = ("l_returnflag", "l_linestatus")

#: Versions the BUILD LOGIC into the cache tag (ADVICE r07 item 2): the
#: source identity alone cannot see a change in how cells are
#: computed, so a rollup built under an older sum_revenue
#: representation (r06 double partials, r07 decimal) would be silently
#: reused on any warm cache. Bump on every change to the cell schema
#: or aggregation arithmetic.  v3 = cents4 BIGINT partial sums.
_ROLLUP_VERSION = "v3-cents4"


def build_daily_sales_rollup(spark: SparkSession, source_dir: str,
                             out_path: str) -> float:
    """Materialize the rollup; returns measured cost (rollup rows / raw
    rows) for the representation's cost model."""
    li = spark.read.parquet(os.path.join(source_dir, "lineitem.parquet"))
    rollup = (
        li.groupBy(F.col("l_returnflag"), F.col("l_linestatus"),
                   F.to_date("l_shipdate").alias("ship_date"))
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.sum("l_quantity").alias("sum_qty"),
             # exact cents4 partial sum (cubes._REVENUE_SQL): the
             # rollup cell must carry the same order-independent
             # representation the base metric aggregates, or the
             # rewrite would reintroduce double-sum rounding drift;
             # int64 partials re-aggregate exactly at any cell split
             F.sum(F.expr(_REVENUE_SQL)).alias("sum_revenue"),
             F.sum("l_extendedprice").alias("sum_price"),
             F.sum("l_discount").alias("sum_discount"),
             F.min("l_extendedprice").alias("min_price"),
             F.max("l_extendedprice").alias("max_price"))
        .withColumn("ship_year", F.year("ship_date")))
    rollup.write.mode("overwrite").partitionBy("ship_year").parquet(out_path)
    raw_rows = li.count()
    rollup_rows = spark.read.parquet(out_path).count()
    return rollup_rows / max(raw_rows, 1)


def _ratio(num: str, den: str):
    """Re-aggregatable average: sum(num)/sum(den), conditional-aware."""
    return Metric._of(lambda n, d: F.sum(n) / F.sum(d), num, den)


def _sum_of(col: str):
    return Metric.sum(col)


def daily_sales_representation(path: str, cost: float) -> Representation:
    """Representation over the materialized rollup. Dimension grain is
    declared with compound keys (``shipdate.date`` etc.) — a query slicing
    raw ``shipdate`` (timestamp grain) or ``shipdate.hour`` is NOT covered
    and falls back to the fact table."""
    date_fields = {
        "shipdate.date": Dimension("ship_date"),
        "shipdate.year": Dimension(lambda: F.year("ship_date")),
        "shipdate.month": Dimension(lambda: F.month("ship_date")),
        "shipdate.day": Dimension(lambda: F.dayofmonth("ship_date")),
        "shipdate.month_start": Dimension(
            lambda: F.date_trunc("month", F.col("ship_date")).cast("date")),
    }
    return Representation(
        name="sales_daily_rollup",
        table="",  # path override below
        path=path,
        cost=cost,
        dimensions={
            "returnflag": Dimension("l_returnflag"),
            "linestatus": Dimension("l_linestatus"),
            **date_fields,
        },
        metrics={
            # algebraic re-aggregation: SUM of partial states
            "count": Metric.sum("cnt"),
            "quantity": _sum_of("sum_qty"),
            # money emission must match the base cube bit-for-bit:
            # re-aggregate the exact cents4 partials, then the same
            # integer-space half-up emission (Metric.money_sum)
            "revenue": Metric.money_sum("sum_revenue"),
            "avg_price": _ratio("sum_price", "cnt"),
            "avg_discount": _ratio("sum_discount", "cnt"),
            "min_price": Metric.min("min_price"),
            "max_price": Metric.max("max_price"),
        },
        selectors={
            "returnflag": Selector("l_returnflag"),
            "linestatus": Selector("l_linestatus"),
            "shipdate": Selector("ship_date"),
        },
    )


def attach_daily_rollup(cube, sf_dir: str,
                        cache_root: str = "/tmp/acgs_preagg") -> Representation:
    """Build (or reuse a previously built) rollup for ``sf_dir`` and attach
    it to ``cube``. The cache directory is named by the build-logic
    version and ``cache.identity_tag`` of ``lineitem.parquet``, so a
    rewritten fact table gets a new rollup; a missing one raises."""
    import json

    from ..cache import identity_tag

    tag = (os.path.basename(os.path.normpath(sf_dir))
           + "-" + identity_tag(os.path.join(sf_dir, "lineitem.parquet"))
           + "-" + _ROLLUP_VERSION)
    out = os.path.join(cache_root, tag, "sales_daily")
    cost_file = os.path.join(cache_root, tag, "sales_daily_cost.json")
    # cost is measured once at build time and persisted beside the rollup —
    # re-deriving it would re-count the raw fact table on every attach
    # (a full scan per query at 100 TB)
    if os.path.exists(os.path.join(out, "_SUCCESS")) \
            and os.path.exists(cost_file):
        with open(cost_file) as fh:
            cost = json.load(fh)["cost"]
    else:
        cost = build_daily_sales_rollup(cube.spark, sf_dir, out)
        with open(cost_file, "w") as fh:
            json.dump({"cost": cost}, fh)
    rep = daily_sales_representation(out, cost)
    cube.add_representation(rep)
    return rep
