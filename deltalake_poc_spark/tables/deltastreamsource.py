"""STANDARD Delta tables as Structured Streaming sources.

The third leg of protocol interop (read: ``deltareader.py``, write:
``deltaexport.py``): a delta-spark user running
``spark.readStream.format("delta")`` against an existing table can
switch to ``format("standard_delta")`` and keep streaming it — no
delta-spark package required. Built on Spark 4's Python Data Source
API exactly like ``streamsource.py`` (the private-log twin): offsets
are Delta log versions, each micro-batch is the files ADDED by the
commits between two versions, and files are read on EXECUTORS with
pyarrow — one InputPartition per data file, so scan parallelism is
the file count.

Semantics match Delta's streaming source:

- append-only by default: a commit carrying dataChange removes raises
  unless ``ignoreChanges``/``ignoreDeletes`` is set;
- with ``ignoreChanges``, only genuinely NEW files are emitted —
  re-adds of an existing path (file rewrites and deletion-vector
  updates re-add the same path) are skipped, since the underlying
  rows were already emitted. This is deliberately STRICTER than
  delta-spark's documented ignoreChanges caveat (which re-emits whole
  rewritten files, duplicating rows downstream);
- a file born WITH a deletion vector streams only its live rows (the
  DV row filter is applied executor-side from positions decoded on
  the driver via ``roaring.py``);
- dataChange=false adds (OPTIMIZE compaction) are always skipped;
- ``startingVersion`` begins the stream at a later commit; batch
  reads honor ``versionAsOf``/``timestampAsOf`` time travel.

Column mapping (physical names), typed partition values, and
checkpoint-file replay all route through ``DeltaLakeReader``'s
driver-side log replay — the same metadata path every Delta client
uses.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource, DataSourceReader, DataSourceStreamReader, InputPartition,
)
from pyspark.sql.types import StructType

from deltalake_poc_spark.tables import roaring
from deltalake_poc_spark.tables.deltareader import DeltaLakeReader
from deltalake_poc_spark.tables.streamsource import (
    _cast_partition_value, _FilePartition, _read_live,
)

FORMAT_NAME = "standard_delta"


def _fields_of(schema: StructType) -> list[tuple[str, str, str]]:
    """(logical, type, physical) triples using the PROTOCOL's
    column-mapping metadata key."""
    return [
        (f.name, f.dataType.simpleString(),
         (f.metadata or {}).get("delta.columnMapping.physicalName", f.name))
        for f in schema.fields
    ]


def _read_partition(partition: _FilePartition) -> Iterator[tuple]:
    import datetime

    table = _read_live(partition)
    n = table.num_rows
    present = set(table.schema.names)
    cols = {}
    for name, typ, phys in partition.fields:
        if phys in present:
            vals = table.column(phys).to_pylist()
            if typ == "timestamp":
                # parquet instants read tz-naive; TimestampType is an
                # instant, so pin UTC (timestamp_ntz stays naive)
                vals = [v.replace(tzinfo=datetime.timezone.utc)
                        if isinstance(v, datetime.datetime)
                        and v.tzinfo is None else v
                        for v in vals]
            cols[name] = vals
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


class StandardDeltaStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.root = options["path"]
        self.schema_fields = _fields_of(schema)
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
            or str(options.get("ignoredeletes", "false")).lower() == "true")
        self.starting_version = int(options.get("startingversion", 0)) - 1

    def _reader(self) -> DeltaLakeReader:
        # driver-side only: the reader needs no SparkSession for log
        # replay (spark is used by its own .read()/CDF methods, which
        # this source never calls)
        return DeltaLakeReader(None, self.root)

    def initialOffset(self) -> dict:
        return {"version": self.starting_version}

    def latestOffset(self) -> dict:
        try:
            return {"version": self._reader().latest_version()}
        except FileNotFoundError:
            return {"version": self.starting_version}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        r = self._reader()
        parts: list[InputPartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            if not os.path.exists(r._commit_file(v)):
                continue  # vacuumed prefix before startingVersion
            actions = r._commit_actions(v)
            removed = set()
            for a in actions:
                if "remove" in a and a["remove"].get("dataChange", True):
                    removed.add(a["remove"]["path"])
            adds = [a["add"] for a in actions
                    if "add" in a and a["add"].get("dataChange", True)]
            re_added = {a["path"] for a in adds} & removed
            if removed and not self.ignore_changes:
                raise ValueError(
                    f"Delta commit v{v} changes or deletes existing rows; "
                    "streaming requires append-only history or "
                    ".option('ignoreChanges','true')")
            for a in adds:
                if a["path"] in re_added:
                    continue  # rewrite/DV update: rows already emitted
                dv = a.get("deletionVector")
                positions = (roaring.read_descriptor(self.root, dv)
                             if dv and dv.get("storageType") else None)
                parts.append(_FilePartition(
                    r._data_path(a["path"]),
                    self.schema_fields,
                    dict(a.get("partitionValues") or {}),
                    drop_positions=positions))
        return parts

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        yield from _read_partition(partition)

    def commit(self, end: dict) -> None:
        pass  # progress tracking lives in the query checkpoint


class StandardDeltaBatchReader(DataSourceReader):
    """Batch reads with time travel through the same format."""

    def __init__(self, schema: StructType, options: dict):
        self.root = options["path"]
        self.schema_fields = _fields_of(schema)
        self.version = (int(options["versionasof"])
                        if "versionasof" in options else None)
        self.timestamp_ms = (int(options["timestampasof"])
                             if "timestampasof" in options else None)

    def partitions(self) -> Sequence[InputPartition]:
        r = DeltaLakeReader(None, self.root)
        snap = r.snapshot(self.version, self.timestamp_ms)
        parts = []
        for path, pvals in snap.files.items():
            dv = snap.dvs.get(path)
            positions = (roaring.read_descriptor(self.root, dv)
                         if dv else None)
            parts.append(_FilePartition(
                r._data_path(path), self.schema_fields,
                dict(pvals), drop_positions=positions))
        return parts

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        yield from _read_partition(partition)


class StandardDeltaDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        r = DeltaLakeReader(None, self.options["path"])
        v = (int(self.options["versionasof"])
             if "versionasof" in self.options else None)
        ts = (int(self.options["timestampasof"])
              if "timestampasof" in self.options else None)
        return r.snapshot(v, ts).schema

    def reader(self, schema: StructType) -> StandardDeltaBatchReader:
        return StandardDeltaBatchReader(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> StandardDeltaStreamReader:
        return StandardDeltaStreamReader(schema, dict(self.options))


def register_delta_stream_source(spark) -> None:
    spark.dataSource.register(StandardDeltaDataSource)
