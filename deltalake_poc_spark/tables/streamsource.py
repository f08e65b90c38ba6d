"""Versioned tables as Spark data sources, batch and streaming, for both
log formats: ``versioned_table`` (the engine's own ``_log``) and
``standard_delta`` (a standard ``_delta_log``, so a delta-spark
``readStream.format("delta")`` user can switch formats and keep
streaming without the delta-spark package).

Delta tables are streamable sources (each commit's added files become
a micro-batch); the reference only ever streams INTO Delta, but a
complete engine needs the outbound direction too — e.g. chaining a
snapshot table into a downstream aggregation job.

Implemented with Spark 4's Python Data Source API
(pyspark.sql.datasource): offsets are log versions, each micro-batch
is the set of files ADDED between two versions, and files are read on
EXECUTORS with pyarrow (one InputPartition per data file — the scan
parallelism is the file count, like any parquet source).

One stream reader, one batch reader, one row emitter and one option
parser serve both formats. Everything format-specific sits in a small
log adapter (``_PrivateLog``, ``_DeltaLog``) with four methods: the
latest version, the schema, a snapshot's file partitions, and the
stream partitions between two versions. Options (keys are
case-insensitive):

- ``startingVersion``: the first commit streamed, inclusive (Delta's
  rule); default 0;
- ``ignoreChanges``/``ignoreDeletes``: by default a commit that
  removes files or deletion-vector-hides rows raises (append-only
  streaming); with either option set the stream goes on;
- ``readChangeFeed`` (``versioned_table`` only; ``standard_delta``
  raises): the change rows with ``_change_type``/``_commit_version``/
  ``_commit_timestamp``, streamed per commit or read in batch from
  ``startingVersion`` to the latest version;
- ``versionAsOf``/``timestampAsOf`` (batch): time travel.

What ``ignoreChanges`` emits differs by log. The private log re-emits
a rewritten file's rows (MERGE) and skips OPTIMIZE's compacted files —
the caveats Delta documents. A standard Delta log skips re-adds of an
existing path (file rewrites and deletion-vector updates re-add the
same path, whose rows were already emitted) and dataChange=false adds,
and a file born WITH a deletion vector streams only its live rows.

Usage:
    register_stream_source(spark)
    df = (spark.readStream.format("versioned_table")
          .option("path", table_root).load())
"""

from __future__ import annotations

import datetime
import decimal
import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource, DataSourceReader, DataSourceStreamReader, InputPartition,
)
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, TimestampType,
)

from deltalake_poc_spark.tables import roaring
from deltalake_poc_spark.tables.deltareader import DeltaLakeReader
from deltalake_poc_spark.tables.log import (HIVE_NULL, TableLog,
                                            partition_values)
from deltalake_poc_spark.tables.table import CDF_PROP


# Hive partition-path values are strings; cast back to the declared
# column type when emitting rows (mirrors the batch table reader's
# _read_files cast) — without this an int-partitioned table yields
# mistyped rows from the stream/batch datasource paths.
# fromisoformat handles Spark's partition-path timestamp format
# ("yyyy-MM-dd HH:mm:ss[.ffffff]" — any single date/time separator is
# accepted); naive datetimes round-trip through the session timezone
# exactly as Spark wrote them.
_PARTITION_CASTS = {
    "tinyint": int, "smallint": int, "int": int, "bigint": int,
    "float": float, "double": float,
    "boolean": lambda s: s.lower() == "true",
    "date": datetime.date.fromisoformat,
    "timestamp": datetime.datetime.fromisoformat,
    "timestamp_ntz": datetime.datetime.fromisoformat,
    "decimal": decimal.Decimal,
}

_CDF_FIELDS = [
    StructField("_change_type", StringType()),
    StructField("_commit_version", LongType()),
    StructField("_commit_timestamp", TimestampType()),
]


def _cast_partition_value(raw: str | None, typ: str):
    """decimal's simpleString carries precision/scale — normalize the
    lookup key; unknown types fall through as strings. A null value
    (JSON null in a Delta log, Spark's NULL directory name in a path)
    stays null."""
    if raw is None or raw == HIVE_NULL:
        return None
    cast = _PARTITION_CASTS.get("decimal" if typ.startswith("decimal") else typ)
    return cast(raw) if cast else raw


def _utc(v):
    """Parquet instants can read tz-naive (INT96); TimestampType is an
    instant, so pin UTC (timestamp_ntz columns never come here)."""
    if isinstance(v, datetime.datetime) and v.tzinfo is None:
        return v.replace(tzinfo=datetime.timezone.utc)
    return v


class _FilePartition(InputPartition):
    def __init__(self, abs_path: str, partition_values: dict[str, str],
                 constants: dict[str, object] | None = None,
                 drop_positions: list[int] | None = None):
        self.abs_path = abs_path
        # physical column name -> raw partition value
        self.partition_values = partition_values
        # column -> fixed value (CDF stamps: _change_type for derived
        # commits, _commit_version/_commit_timestamp always)
        self.constants = constants or {}
        # deletion-vector row indexes to EXCLUDE (read driver-side from
        # the snapshot's sidecars, or decoded from a standard Delta
        # table's vectors)
        self.drop_positions = drop_positions or []


def _read_live(partition: _FilePartition):
    """A partition's parquet file without its deletion-vector rows.
    Dropped by boolean mask: a ``take`` of the live indexes breaks on a
    file whose vector deletes every row (pyarrow has no kernel for the
    empty, null-typed index list)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(partition.abs_path)
    if partition.drop_positions:
        dead = set(partition.drop_positions)
        table = table.filter(pa.array(
            [i not in dead for i in range(table.num_rows)]))
    return table


def _rows(partition: _FilePartition,
          fields: list[tuple[str, str, str]]) -> Iterator[tuple]:
    """The one row emitter: each (logical, type, physical) field comes
    from a constant, the file's physical column, a typed partition
    value, or null (a column the file predates)."""
    table = _read_live(partition)
    n = table.num_rows
    present = set(table.schema.names)
    cols = []
    for name, typ, phys in fields:
        if name in partition.constants:
            vals = [partition.constants[name]] * n
        elif phys in present:
            vals = table.column(phys).to_pylist()
            if typ == "timestamp":
                vals = [_utc(v) for v in vals]
        elif phys in partition.partition_values:
            vals = [_cast_partition_value(
                partition.partition_values[phys], typ)] * n
        else:
            vals = [None] * n
        cols.append(vals)
    return zip(*cols)


class _Options:
    """The option surface both formats share."""

    def __init__(self, options: dict):
        def flag(key: str) -> bool:
            return str(options.get(key, "false")).lower() == "true"

        self.root = options["path"]
        self.ignore_changes = flag("ignorechanges") or flag("ignoredeletes")
        self.read_change_feed = flag("readchangefeed")
        # startingVersion is inclusive: the stream's initial offset is
        # the version before it
        self.start_offset = int(options.get("startingversion", 0)) - 1
        self.version = (int(options["versionasof"])
                        if "versionasof" in options else None)
        self.timestamp_ms = (int(options["timestampasof"])
                             if "timestampasof" in options else None)


class _PrivateLog:
    """Adapter over the engine's own log (tables/log.py)."""

    physical_key = "physicalName"

    def __init__(self, root: str):
        self.log = TableLog(root)

    def latest_version(self) -> int:
        return self.log.latest_version()

    def schema(self, opts: _Options) -> StructType:
        snap = self.log.snapshot(opts.version, opts.timestamp_ms)
        if not snap.schema_json:
            raise ValueError("table has no declared schema")
        base = StructType.fromJson(json.loads(snap.schema_json))
        if not opts.read_change_feed:
            return base
        # without the property MERGE/DELETE/UPDATE write no change
        # files: a feed would silently miss them
        if str(snap.properties.get(CDF_PROP, "false")).lower() != "true":
            raise ValueError(f"{CDF_PROP} is not set on table {self.log.root}")
        return StructType(base.fields + _CDF_FIELDS)

    def snapshot_partitions(self, opts: _Options) -> list[_FilePartition]:
        snap = self.log.snapshot(opts.version, opts.timestamp_ms)
        dead = self.log.dv_positions(snap.dvs)
        return [_FilePartition(self.log.abs_path(e.path), e.partition,
                               drop_positions=dead.get(e.path))
                for e in snap.files]

    def stream_partitions(self, start: int, end: int,
                          opts: _Options) -> list[_FilePartition]:
        if opts.read_change_feed:
            return self._change_partitions(start, end)
        parts = []
        for c in self.log.commits(start + 1, end):
            # a DV commit hides rows without removing a file
            if (c.remove or c.dv_updates) and not opts.ignore_changes:
                raise ValueError(
                    f"commit v{c.version} ({c.operation}) rewrites data; "
                    "streaming a versioned table requires append-only "
                    "history or .option('ignoreChanges','true')"
                )
            if c.operation == "OPTIMIZE":
                continue  # pure compaction: no new logical rows
            parts += [_FilePartition(self.log.abs_path(a.path), a.partition)
                      for a in c.add]
        return parts

    def _change_partitions(self, start: int,
                           end: int) -> list[_FilePartition]:
        """Each commit's change rows (TableLog.change_feed, the rule
        VersionedTable.read_change_feed reads by) stamped with its
        version and time; each file is one partition, with the
        partition values of its k=v path like a data file."""
        parts = []
        for c in self.log.commits(start + 1, end):
            stamps = {
                "_commit_version": c.version,
                # tz-aware UTC, like the batch path's timestamp_millis
                "_commit_timestamp": datetime.datetime.fromtimestamp(
                    c.timestamp / 1000.0, tz=datetime.timezone.utc),
            }
            for change_type, paths in self.log.change_feed(c):
                consts = (stamps if change_type is None
                          else {**stamps, "_change_type": change_type})
                parts += [_FilePartition(self.log.abs_path(p),
                                         partition_values(p), consts)
                          for p in paths]
        return parts


class _DeltaLog:
    """Adapter over a standard Delta log (tables/deltareader.py): its
    driver-side replay handles column mapping, typed partition values
    and checkpoints."""

    physical_key = "delta.columnMapping.physicalName"

    def __init__(self, root: str):
        # log replay needs no SparkSession
        self.reader = DeltaLakeReader(None, root)

    def latest_version(self) -> int:
        return self.reader.latest_version()

    def schema(self, opts: _Options) -> StructType:
        if opts.read_change_feed:
            raise ValueError(
                "standard_delta has no readChangeFeed option; read a "
                "standard Delta change feed with "
                "DeltaLakeReader.read_change_feed")
        return self.reader.snapshot(opts.version, opts.timestamp_ms).schema

    def _partition(self, path: str, pvals: dict[str, str],
                   dv: dict | None) -> _FilePartition:
        return _FilePartition(
            self.reader.data_path(path), pvals,
            drop_positions=(roaring.read_descriptor(self.reader.root, dv)
                            if dv else None))

    def snapshot_partitions(self, opts: _Options) -> list[_FilePartition]:
        snap = self.reader.snapshot(opts.version, opts.timestamp_ms)
        return [self._partition(p, pv, snap.dvs.get(p))
                for p, pv in snap.files.items()]

    def stream_partitions(self, start: int, end: int,
                          opts: _Options) -> list[_FilePartition]:
        present = set(self.reader.versions())
        parts = []
        for v in range(start + 1, end + 1):
            if v not in present:
                continue  # vacuumed prefix before startingVersion
            c = self.reader.commit(v)
            removed = {a.path for a in c.removes if a.data_change}
            if removed and not opts.ignore_changes:
                raise ValueError(
                    f"Delta commit v{v} changes or deletes existing rows; "
                    "streaming requires append-only history or "
                    ".option('ignoreChanges','true')")
            # a re-add of a removed path (rewrite or DV update) carries
            # rows already emitted; dataChange=false adds are compaction
            parts += [self._partition(a.path, a.partition_values, a.dv)
                      for a in c.adds
                      if a.data_change and a.path not in removed]
        return parts


class _Reader:
    """What both readers share: the options, the output fields, a
    fresh log adapter per driver call, and the row emitter."""

    def __init__(self, log_type: type, schema: StructType, options: dict):
        self.log_type = log_type
        self.opts = _Options(options)
        # (logical name, simpleString type, physical name): the type
        # drives partition-value casting and the UTC pin, the physical
        # name resolves column-mapping renames against the files
        self.fields = [
            (f.name, f.dataType.simpleString(),
             (f.metadata or {}).get(log_type.physical_key, f.name))
            for f in schema.fields]

    def _log(self):
        return self.log_type(self.opts.root)

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        yield from _rows(partition, self.fields)


class TableStreamReader(_Reader, DataSourceStreamReader):
    def initialOffset(self) -> dict:
        return {"version": self.opts.start_offset}

    def latestOffset(self) -> dict:
        try:
            return {"version": self._log().latest_version()}
        except FileNotFoundError:
            return {"version": self.opts.start_offset}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        return self._log().stream_partitions(
            start["version"], end["version"], self.opts)

    def commit(self, end: dict) -> None:
        pass  # progress tracking lives in the query checkpoint


class TableBatchReader(_Reader, DataSourceReader):
    """Batch reads through the same formats, with the reference's
    time-travel option surface (S6/S7: spark.read.format('delta')
    .option('versionAsOf'/'timestampAsOf', ...) —
    spark_delta_handler.py:253-267)."""

    def partitions(self) -> Sequence[InputPartition]:
        log = self._log()
        if self.opts.read_change_feed:
            return log.stream_partitions(
                self.opts.start_offset, log.latest_version(), self.opts)
        return log.snapshot_partitions(self.opts)


class _TableSource(DataSource):
    log_type: type

    def schema(self) -> StructType:
        opts = _Options(self.options)
        return self.log_type(opts.root).schema(opts)

    def reader(self, schema: StructType) -> TableBatchReader:
        return TableBatchReader(self.log_type, schema, dict(self.options))

    def streamReader(self, schema: StructType) -> TableStreamReader:
        return TableStreamReader(self.log_type, schema, dict(self.options))


class VersionedTableDataSource(_TableSource):
    log_type = _PrivateLog

    @classmethod
    def name(cls) -> str:
        return "versioned_table"


class StandardDeltaDataSource(_TableSource):
    log_type = _DeltaLog

    @classmethod
    def name(cls) -> str:
        return "standard_delta"


def register_stream_source(spark) -> None:
    """Register both formats, ``versioned_table`` and ``standard_delta``."""
    spark.dataSource.register(VersionedTableDataSource)
    spark.dataSource.register(StandardDeltaDataSource)
