"""Versioned tables as Structured Streaming SOURCES.

Delta tables are streamable sources (each commit's added files become
a micro-batch); the reference only ever streams INTO Delta, but a
complete engine needs the outbound direction too — e.g. chaining a
snapshot table into a downstream aggregation job.

Implemented with Spark 4's Python Data Source API
(pyspark.sql.datasource): offsets are log versions, each micro-batch
is the set of files ADDED between two versions, and files are read on
EXECUTORS with pyarrow (one InputPartition per data file — the scan
parallelism is the file count, like any parquet source).

Semantics match Delta's default streaming source: append-only.
Commits that remove files (MERGE/DELETE/OVERWRITE/OPTIMIZE) raise
unless ``ignoreChanges`` is set, in which case their added files are
skipped (OPTIMIZE) or emitted as re-written rows (MERGE) — the same
caveats Delta documents for ignoreChanges.

Usage:
    register_stream_source(spark)
    df = (spark.readStream.format("versioned_table")
          .option("path", table_root).load())
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource, DataSourceReader, DataSourceStreamReader, InputPartition,
)
from pyspark.sql.types import StructType

from deltalake_poc_spark.tables.log import TableLog

FORMAT_NAME = "versioned_table"


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


def _cast_partition_value(raw: str, typ: str):
    """decimal's simpleString carries precision/scale — normalize the
    lookup key; unknown types fall through as strings."""
    cast = _PARTITION_CASTS.get("decimal" if typ.startswith("decimal") else typ)
    return cast(raw) if cast else raw


def _fields_of(schema: StructType) -> list[tuple[str, str, str]]:
    """(logical, type, physical) triples; physical falls back to the
    logical name when no column-mapping metadata is present."""
    return [
        (f.name, f.dataType.simpleString(),
         (f.metadata or {}).get("physicalName", f.name))
        for f in schema.fields
    ]


class _FilePartition(InputPartition):
    def __init__(self, abs_path: str, fields: list[tuple[str, str, str]],
                 partition_values: dict[str, str],
                 constants: dict[str, object] | None = None,
                 drop_positions: list[int] | None = None):
        self.abs_path = abs_path
        # [(logical name, simpleString type, physical name)] — the type
        # drives partition-value casting, the physical name resolves
        # column-mapping renames against the parquet columns
        self.fields = fields
        self.partition_values = partition_values
        # column -> fixed value (CDF stamps: _change_type for derived
        # commits, _commit_version/_commit_timestamp always)
        self.constants = constants or {}
        # deletion-vector row indexes to EXCLUDE (read driver-side from
        # the snapshot's sidecars, or decoded from a standard Delta
        # table's vectors)
        self.drop_positions = drop_positions or []


def _dv_positions(root: str, dvs: dict[str, str]) -> dict[str, list[int]]:
    """Active deletion-vector positions per data file: ``dvs`` maps a
    file to the (file, pos) parquet sidecar dir holding its vector."""
    import pyarrow.parquet as pq

    out: dict[str, list[int]] = {}
    for d in sorted(set(dvs.values())):
        rows = pq.read_table(os.path.join(root, d),
                             columns=["file", "pos"]).to_pydict()
        for f, p in zip(rows["file"], rows["pos"]):
            if dvs.get(f) == d:
                out.setdefault(f, []).append(p)
    return out


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


class VersionedTableStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.root = options["path"]
        self.schema_fields = _fields_of(schema)
        self.schema = schema
        self.ignore_changes = str(
            options.get("ignorechanges", "false")).lower() == "true"
        self.read_change_feed = str(
            options.get("readchangefeed", "false")).lower() == "true"
        self.starting_version = int(options.get("startingversion", -1))

    def _log(self) -> TableLog:
        return TableLog(self.root)

    def initialOffset(self) -> dict:
        return {"version": self.starting_version}

    def latestOffset(self) -> dict:
        log = self._log()
        try:
            return {"version": log.latest_version()}
        except FileNotFoundError:
            return {"version": self.starting_version}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        if self.read_change_feed:
            return self._cdf_partitions(start, end)
        log = self._log()
        parts: list[InputPartition] = []
        for c in log.commits(start["version"] + 1, end["version"]):
            # a DV commit hides rows without removing a file
            if (c.remove or c.dv_updates) and not self.ignore_changes:
                raise ValueError(
                    f"commit v{c.version} ({c.operation}) rewrites data; "
                    "streaming a versioned table requires append-only "
                    "history or .option('ignoreChanges','true')"
                )
            if c.operation == "OPTIMIZE":
                continue  # pure compaction: no new logical rows
            for a in c.add:
                parts.append(_FilePartition(
                    os.path.join(self.root, a.path),
                    self.schema_fields,
                    dict(a.partition) if a.partition else {}))
        return parts

    def _cdf_partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        """Change-feed mode: each commit contributes its change rows
        (derived inserts for append commits, explicit change files for
        merge/update/delete, insert+delete pairs for overwrite/restore)
        — the streaming twin of VersionedTable.read_change_feed (S8)."""
        log = self._log()
        parts: list[InputPartition] = []
        for c in log.commits(start["version"] + 1, end["version"]):
            stamps = {
                "_commit_version": c.version,
                # tz-aware UTC: a naive datetime would be reinterpreted
                # in the session timezone (and utcfromtimestamp is
                # deprecated in 3.12) — must match the batch CDF path's
                # timestamp_millis semantics
                "_commit_timestamp": datetime.datetime.fromtimestamp(
                    c.timestamp / 1000.0, tz=datetime.timezone.utc),
            }

            def fp(path, change_type=None, pv=None):
                consts = dict(stamps)
                if change_type is not None:
                    consts["_change_type"] = change_type
                if pv is None:  # recover partition values from k=v path segs
                    pv = {seg.split("=", 1)[0]: seg.split("=", 1)[1]
                          for seg in path.split("/") if "=" in seg}
                return _FilePartition(os.path.join(self.root, path),
                                      self.schema_fields, pv, consts)

            if c.operation in ("WRITE", "APPEND", "CREATE TABLE"):
                for a in c.add:
                    parts.append(fp(a.path, "insert",
                                    dict(a.partition) if a.partition else {}))
            elif c.operation in ("OVERWRITE", "RESTORE"):
                for a in c.add:
                    parts.append(fp(a.path, "insert",
                                    dict(a.partition) if a.partition else {}))
                for r in c.remove:
                    parts.append(fp(r, "delete"))
            elif c.operation in ("MERGE", "DELETE", "UPDATE"):
                cd = log.commit_changes_dir(c)
                cd_rel = os.path.relpath(cd, self.root)
                if os.path.isdir(cd):
                    for name in sorted(os.listdir(cd)):
                        if name.endswith(".parquet"):
                            parts.append(fp(os.path.join(cd_rel, name)))
        return parts

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        table = _read_live(partition)
        cols = {}
        n = table.num_rows
        present = set(table.schema.names)
        for name, typ, phys in partition.fields:
            if name in partition.constants:
                cols[name] = [partition.constants[name]] * n
            elif phys in present:
                cols[name] = table.column(phys).to_pylist()
            elif name in partition.partition_values:
                raw = partition.partition_values[name]
                val = (_cast_partition_value(raw, typ)
                       if isinstance(raw, str) else raw)
                cols[name] = [val] * n
            else:
                cols[name] = [None] * n
        order = [name for name, _, _ in partition.fields]
        for i in range(n):
            yield tuple(cols[name][i] for name in order)

    def commit(self, end: dict) -> None:
        pass  # progress tracking lives in the query checkpoint


class VersionedTableBatchReader(DataSourceReader):
    """Batch reads through the same format, with the reference's
    time-travel option surface (S6/S7: spark.read.format('delta')
    .option('versionAsOf'/'timestampAsOf', ...) —
    spark_delta_handler.py:253-267)."""

    def __init__(self, schema: StructType, options: dict):
        self.root = options["path"]
        self.schema_fields = _fields_of(schema)
        self.version = (int(options["versionasof"])
                        if "versionasof" in options else None)
        self.timestamp_ms = (int(options["timestampasof"])
                             if "timestampasof" in options else None)

    def partitions(self) -> Sequence[InputPartition]:
        snap = TableLog(self.root).snapshot(self.version, self.timestamp_ms)
        dead = _dv_positions(self.root, snap.dvs)
        return [
            _FilePartition(os.path.join(self.root, e.path),
                           self.schema_fields,
                           dict(e.partition) if e.partition else {},
                           drop_positions=dead.get(e.path))
            for e in snap.files
        ]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        yield from VersionedTableStreamReader.read(self, partition)


class VersionedTableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _snapshot(self):
        log = TableLog(self.options["path"])
        v = (int(self.options["versionasof"])
             if "versionasof" in self.options else None)
        ts = (int(self.options["timestampasof"])
              if "timestampasof" in self.options else None)
        return log.snapshot(v, ts)

    def schema(self) -> StructType:
        from pyspark.sql.types import LongType, StringType, StructField, TimestampType

        snap = self._snapshot()
        if not snap.schema_json:
            raise ValueError("table has no declared schema")
        base = StructType.fromJson(json.loads(snap.schema_json))
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            return StructType(base.fields + [
                StructField("_change_type", StringType()),
                StructField("_commit_version", LongType()),
                StructField("_commit_timestamp", TimestampType()),
            ])
        return base

    def reader(self, schema: StructType) -> VersionedTableBatchReader:
        return VersionedTableBatchReader(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> VersionedTableStreamReader:
        return VersionedTableStreamReader(schema, dict(self.options))


def register_stream_source(spark) -> None:
    spark.dataSource.register(VersionedTableDataSource)
