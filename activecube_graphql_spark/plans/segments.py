"""Disjoint segment backings for one logical fact table (SURVEY §2.7).

The activecube data model lets one cube run against multiple physical
tables (README.md:53-68 context); the reference adapter never surfaces a
user-facing set operation because the gem composes the UNION below the
query layer. This module is that layer for the Spark engine: the
standard 100 TB lake layout keeps a *hot* segment (recent data, fast
storage, small files recently compacted) and a *cold* archive (historic
data, cheaper storage), and every cube query must transparently UNION
ALL across them.

``Cube.base_tables`` supplies the query-side mechanics (each segment is
its own scan — pushdown and pruning apply per segment, so a time filter
that excludes the archive never reads it). This module materializes the
split and wires a registry, mirroring ``preagg.attach_daily_rollup``'s
build-once-attach-many idiom.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

#: hot/cold boundary for the events fixture (data spans 2024-01)
EVENTS_SPLIT_TS = "2024-01-16 00:00:00"


def build_split_events(spark: SparkSession, source_dir: str,
                       out_root: str, split_ts: str = EVENTS_SPLIT_TS
                       ) -> tuple[str, str]:
    """Materialize ``events`` into two disjoint parquet segments:
    ``cold`` (ts < split) and ``hot`` (ts >= split). Returns their paths.
    The split predicate is total and mutually exclusive, so the pair
    partitions the table exactly — the invariant ``Cube.base_tables``
    relies on."""
    from ..functions.tsutil import normalize_ts
    ev = normalize_ts(
        spark.read.parquet(os.path.join(source_dir, "events.parquet")), "ts")
    cold_path = os.path.join(out_root, "events_cold")
    hot_path = os.path.join(out_root, "events_hot")
    boundary = F.to_timestamp(F.lit(split_ts))
    ev.filter(F.col("ts") < boundary) \
      .write.mode("overwrite").parquet(cold_path)
    ev.filter(F.col("ts") >= boundary) \
      .write.mode("overwrite").parquet(hot_path)
    return cold_path, hot_path


def split_events_registry(sf_dir: str, cold_path: str, hot_path: str):
    """Registry where ``events_cold``/``events_hot`` resolve to the
    materialized segments and every other table falls through to the
    fixture directory."""
    from ..sources.registry import SourceRegistry
    return SourceRegistry(
        {"default": sf_dir},
        overrides={("default", "events_cold"): cold_path,
                   ("default", "events_hot"): hot_path})


def attach_split_events(spark: SparkSession, sf_dir: str,
                        cache_root: str = "/tmp/acgs_segments"):
    """Build (or reuse) the split for ``sf_dir`` and return an
    ``EventsArchiveCube`` over it. The cache directory is named by
    ``cache.identity_tag`` of ``events.parquet``, so a rewritten table
    (nested partitions included) gets a new split; a missing one
    raises."""
    from ..cache import identity_tag
    from ..cubes import EventsArchiveCube
    tag = (os.path.basename(os.path.normpath(sf_dir)) + "-"
           + identity_tag(os.path.join(sf_dir, "events.parquet")))
    out_root = os.path.join(cache_root, tag)
    cold = os.path.join(out_root, "events_cold")
    hot = os.path.join(out_root, "events_hot")
    if not (os.path.exists(os.path.join(cold, "_SUCCESS"))
            and os.path.exists(os.path.join(hot, "_SUCCESS"))):
        cold, hot = build_split_events(spark, sf_dir, out_root)
    return EventsArchiveCube(spark, split_events_registry(sf_dir, cold, hot))
