"""SourceRegistry — multi-database routing (SURVEY §2.1 S2).

Reference: one cube can execute against multiple named databases, chosen
per-request (``cube.connected_to(database:)``, cube_field.rb:33-38;
README.md:53-68). Here a database name maps to a path prefix (or any
``spark.read`` format); the cube resolves ``{prefix}/{table}.parquet``.

Scale notes: reads go through ``spark.read.parquet`` so partition discovery,
predicate pushdown, and column pruning all apply. For a partitioned lake
layout (e.g. ``/date=2024-01-01/``) the same registry entry picks up
partition pruning automatically. A plain parquet read builds its
relation (file index, inferred schema) once per file identity
(:func:`read_parquet`); every read still returns a new DataFrame.

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

from ..cache import Memo, file_identity, frame_over
from ..errors import InputArgumentError
from ..session import ensure_runtime_confs

#: (session, file identity) → the analyzed relation plan of
#: ``spark.read.parquet(path)``. A plain read lists the files into a new
#: ``InMemoryFileIndex`` (with its own copy of the Hadoop
#: Configuration) and runs a footer-inference job; every plan built over
#: it keeps that relation alive. Reads of an unchanged file share one
#: relation instead, and a rewritten file has a new identity and so a
#: new relation.
_PARQUET_RELATIONS = Memo()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` over one shared relation per file
    identity. Each read gets fresh output attributes
    (``newInstance``), as two plain reads do, so a self-join of two
    reads still resolves; the analyzed plan is byte-identical up to
    expression ids (fingerprint-verified)."""
    key = file_identity(path)
    if key is None:
        return spark.read.parquet(path)
    relation = _PARQUET_RELATIONS.get_or_compute(
        (spark._jsparkSession.sessionUUID(), key),
        lambda: spark.read.parquet(path)._jdf.queryExecution().analyzed())
    return frame_over(spark, relation.newInstance())


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
            # plain parquet (the cube default): route through the
            # relation memo so re-builds skip the file listing and the
            # footer-inference job of a fresh read
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
