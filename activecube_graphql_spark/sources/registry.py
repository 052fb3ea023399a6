"""SourceRegistry — multi-database routing (SURVEY §2.1 S2).

Reference: one cube can execute against multiple named databases, chosen
per-request (``cube.connected_to(database:)``, cube_field.rb:33-38;
README.md:53-68). Here a database name maps to a path prefix (or any
``spark.read`` format); the cube resolves ``{prefix}/{table}.parquet``.

Scale notes: reads go through ``spark.read.parquet`` so partition discovery,
predicate pushdown, and column pruning all apply. For a partitioned lake
layout (e.g. ``/date=2024-01-01/``) the same registry entry picks up
partition pruning automatically.

A database prefix of the form ``catalog:<name_prefix>`` routes reads
through ``spark.table(f"{name_prefix}{table}")`` instead of a path —
the entry point for *bucketed* backings (plans/bucketing.py): catalog
tables carry bucket metadata, which Catalyst turns into shuffle-free
co-located joins and aggregations on the bucket key. Per-table
``overrides`` still resolve to paths, so one database can mix bucketed
facts with plain parquet dimension tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession

from ..cache import Memo, file_identity
from ..errors import InputArgumentError
from ..session import ensure_runtime_confs

#: file identity → inferred schema. `spark.read.parquet` runs a footer-
#: inference JOB per call (r17: ~100 rows × every build); ``.schema()``
#: skips it with a byte-identical analyzed plan (fingerprint-verified).
_PARQUET_SCHEMA_MEMO = Memo()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that infers a file's schema once."""
    key = file_identity(path)
    if key is None:
        return spark.read.parquet(path)
    schema = _PARQUET_SCHEMA_MEMO.get_or_compute(
        key, lambda: spark.read.parquet(path).schema)
    return spark.read.schema(schema).parquet(path)


@dataclass
class SourceRegistry:
    """database name → parquet directory prefix."""

    databases: dict[str, str]
    format: str = "parquet"
    #: optional per-(db, table) explicit path overrides
    overrides: dict[tuple[str, str], str] = dc_field(default_factory=dict)
    #: reader options forwarded to ``spark.read`` (e.g. header/inferSchema
    #: for csv, multiLine for json)
    options: dict[str, str] = dc_field(default_factory=dict)

    CATALOG_SCHEME = "catalog:"

    def path(self, database: str, table: str) -> str:
        if database not in self.databases:
            raise InputArgumentError(f"Unknown database '{database}'")
        if (database, table) in self.overrides:
            return self.overrides[(database, table)]
        prefix = self.databases[database]
        if prefix.startswith(self.CATALOG_SCHEME):
            return prefix + table  # catalog table name, not a filesystem path
        return os.path.join(prefix, f"{table}.{self.format}")

    def read(self, spark: SparkSession, database: str, table: str) -> DataFrame:
        ensure_runtime_confs(spark)
        target = self.path(database, table)
        if target.startswith(self.CATALOG_SCHEME):
            return spark.table(target[len(self.CATALOG_SCHEME):])
        if self.format == "parquet" and not self.options:
            # plain parquet (the cube default): route through the schema
            # memo so re-builds skip the per-read footer-inference job
            return read_parquet(spark, target)
        return (spark.read.format(self.format).options(**self.options)
                .load(target))

    def read_stream(self, spark: SparkSession, database: str,
                    table: str) -> DataFrame:
        """Streaming twin of :meth:`read` over the same registry entry.
        File-stream sources need an explicit schema and a directory, so
        the schema comes from a (lazy, metadata-only) batch read and a
        single-file path becomes dir + pathGlobFilter."""
        ensure_runtime_confs(spark)
        target = self.path(database, table)
        if target.startswith(self.CATALOG_SCHEME):
            raise InputArgumentError(
                "catalog-backed tables have no file-stream source")
        schema = self.read(spark, database, table).schema
        reader = (spark.readStream.format(self.format).schema(schema)
                  .options(**self.options))
        if os.path.isdir(target):  # directory layout (e.g. partitioned lake)
            return reader.load(target)
        directory, base = os.path.split(target.rstrip("/"))
        return reader.option("pathGlobFilter", base).load(directory)
