"""Read-only interop with the STANDARD Delta Lake protocol.

The engine's own ``VersionedTable`` uses a private commit log; but a
user migrating from the reference stack has real Delta tables on disk
(the reference ships committed ones under ``deltalake/*/_delta_log/``,
written by delta-spark — e.g. customers with a WRITE + MERGE history
and CDF files). This module replays the public Delta transaction-log
protocol (https://github.com/delta-io/delta/blob/master/PROTOCOL.md)
so those tables are readable — snapshot, time travel, history, and
change-data-feed — without the delta-spark package.

Replay rule (a table is one replay of its action log):

- each ``_delta_log`` commit file is parsed ONCE per reader into a
  ``DeltaCommit`` (``commit(v)``). A commit file never changes once
  written; its presence is still checked on every replay, so a
  vacuumed log raises instead of replaying from memory;
- ONE reconciliation step, ``_Replay.apply``, folds a commit (or the
  checkpoint) into the table state, keyed by path and deletion-vector
  id. ``snapshot()`` is that step over the checkpoint plus the JSON
  commits after it;
- ``read_change_feed()`` replays one snapshot to ``start - 1`` and
  drives the same step forward through the range, reading each
  commit's changes against the state just before it; a commit missing
  from the range raises ``FileNotFoundError``;
- the ``standard_delta`` data source (tables/streamsource.py) takes
  each commit's adds and removes from the same ``DeltaCommit``.

Scope and scale notes:

- Log replay (JSON actions + parquet checkpoint) is DRIVER-side, like
  every Delta client's metadata path: actions are per-FILE, ~hundreds
  of bytes each; a 100 TB table with 1 M files is ~100 MB of metadata,
  which is what checkpoints + ``_last_checkpoint`` keep bounded. Data
  reads stay fully distributed (``spark.read.parquet`` over the active
  file set, one scan per partition-value group).
- Supported: reader version 1 (basic) and 2 (column mapping by name or
  id). Reader version 3 tables are readable iff their reader features
  are a subset of {columnMapping, timestampNtz, vacuumProtocolCheck,
  deletionVectors, v2Checkpoint-absent}.
- Deletion vectors (readerVersion 3 tables, increasingly delta-spark's
  default for DELETE/UPDATE/MERGE): the ``deletionVector`` field of
  add actions decodes through ``tables/roaring.py`` (Z85 + portable
  RoaringBitmapArray + CRC-checked sidecar layout, all from the public
  protocol spec). Every read — snapshot, time travel and a commit's
  derived changes — applies one liveness rule: a row is live in a
  state when its file is live there and its row index is not in that
  state's vector. The files are scanned once, left-joined over
  ``_metadata.row_index`` to ONE ``_dv_pairs`` frame that marks each
  listed (file, row index) dead before, dead after, or both; a row
  live only after is an ``insert``, one live only before a
  ``delete``, and a snapshot read is the rows live after. The total
  cardinality picks the regime: up to ``dv_driver_positions_max``
  positions decode driver-side into one broadcast frame, so the data
  scan stays one distributed pass; above it only the tagged
  descriptors ship and the executors decode them.
"""

from __future__ import annotations

import functools
import json
import os
import urllib.parse
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from . import roaring

LOG_DIR = "_delta_log"

# reader-version-3 table features this replayer actually implements
_SUPPORTED_READER_FEATURES = {"columnMapping", "timestampNtz",
                              "vacuumProtocolCheck", "deletionVectors"}

_PAIRS_SCHEMA = "__dvf string, __dvp long, __dvb boolean, __dva boolean"


def _dead_positions(root: str, before: dict | None,
                    after: dict | None) -> list[tuple[int, bool, bool]]:
    """(row index, dead before, dead after) of each position in either
    deletion vector (descriptor or None) of one file."""
    b, a = (set(roaring.read_descriptor(root, d)) if d else set()
            for d in (before, after))
    return [(i, i in b, i in a) for i in b | a]


@dataclass
class DeltaSnapshot:
    version: int
    schema: StructType
    partition_columns: list[str]
    configuration: dict[str, str]
    min_reader_version: int
    reader_features: set[str]
    # path -> partitionValues (string map, per the protocol)
    files: dict[str, dict[str, str]] = field(default_factory=dict)
    # path -> deletionVector descriptor dict (only files that have one)
    dvs: dict[str, dict] = field(default_factory=dict)
    # path -> {column: [min, max]} parsed from the add action's stats
    # (keys are PHYSICAL names under column mapping, like the protocol)
    stats: dict[str, dict] = field(default_factory=dict)

    @property
    def column_mapping_mode(self) -> str:
        return self.configuration.get("delta.columnMapping.mode", "none")


def _parse_add_stats(raw) -> dict:
    """{col: [min, max]} from an add action's ``stats`` JSON string
    (top-level scalar columns only; nested structs and missing bounds
    simply contribute no skipping)."""
    if not raw:
        return {}
    try:
        d = json.loads(raw) if isinstance(raw, str) else dict(raw)
    except (ValueError, TypeError):
        return {}
    mins = d.get("minValues") or {}
    maxs = d.get("maxValues") or {}
    out = {}
    for col, lo in mins.items():
        hi = maxs.get(col)
        if lo is None or hi is None or isinstance(lo, dict) \
                or isinstance(hi, dict):
            continue
        out[col] = [lo, hi]
    return out


@dataclass
class FileAction:
    """One add or remove action of the log."""
    path: str  # log-relative and URL-encoded, per the protocol
    partition_values: dict[str, str]
    dv: dict | None  # deletionVector descriptor
    data_change: bool
    stats: dict  # {column: [min, max]}; adds only

    @classmethod
    def parse(cls, a: dict) -> FileAction:
        dv = a.get("deletionVector")
        return cls(a["path"], dict(a.get("partitionValues") or {}),
                   # checkpoint parquet rows materialize an absent
                   # descriptor as a struct of all-None fields
                   dv if dv and dv.get("storageType") else None,
                   bool(a.get("dataChange", True)),
                   _parse_add_stats(a.get("stats")))

    @property
    def dv_id(self) -> str | None:
        dv = self.dv
        return (f"{dv['storageType']}{dv['pathOrInlineDv']}"
                f"@{dv.get('offset') or 0}") if dv else None


@dataclass
class DeltaCommit:
    """One commit file (or the checkpoint), parsed once: the input of
    the reconciliation step."""
    version: int
    actions: list[dict]  # the raw action lines, in log order
    timestamp_ms: int = 0
    info: dict = field(default_factory=dict)  # commitInfo
    metadata: dict | None = None
    protocol: dict | None = None
    adds: list[FileAction] = field(default_factory=list)
    removes: list[FileAction] = field(default_factory=list)
    # change-data file -> partitionValues
    cdc: dict[str, dict[str, str]] = field(default_factory=dict)

    @classmethod
    def parse(cls, version: int, actions: list[dict],
              mtime_ms=lambda: 0) -> DeltaCommit:
        c = cls(version, actions)
        for a in actions:
            if "commitInfo" in a:
                c.info = c.info or a["commitInfo"]
            elif "metaData" in a:
                c.metadata = a["metaData"]
            elif "protocol" in a:
                c.protocol = a["protocol"]
            elif "add" in a:
                c.adds.append(FileAction.parse(a["add"]))
            elif "remove" in a:
                c.removes.append(FileAction.parse(a["remove"]))
            elif "cdc" in a:
                c.cdc[a["cdc"]["path"]] = dict(
                    a["cdc"].get("partitionValues") or {})
        # commitInfo.timestamp when present, else log-file mtime — the
        # same fallback order delta-spark uses for time travel
        c.timestamp_ms = (int(c.info["timestamp"]) if "timestamp" in c.info
                          else mtime_ms())
        return c


class _Replay:
    """Table state as the log replays; ``apply`` is the one
    reconciliation step."""

    def __init__(self, root: str):
        self.root = root
        self.version = -1
        self.metadata: dict | None = None
        self.protocol: dict = {}
        self.live: dict[str, FileAction] = {}  # path -> its live add

    def apply(self, c: DeltaCommit) -> None:
        """A file's identity is (path, DV id), per PROTOCOL.md "Action
        Reconciliation": a DV update commits remove(path, old DV) +
        add(path, new DV), and the remove only tombstones the
        incarnation it names. A commit's removes and adds never share
        an identity, so removes apply first; in a checkpoint that also
        keeps a live add whose identity matches a retained tombstone."""
        if c.metadata is not None:
            self.metadata = c.metadata
        if c.protocol is not None:
            self.protocol = c.protocol
        for rm in c.removes:
            cur = self.live.get(rm.path)
            if cur is not None and cur.dv_id == rm.dv_id:
                del self.live[rm.path]
        for ad in c.adds:
            self.live[ad.path] = ad
        self.version = c.version

    def snapshot(self) -> DeltaSnapshot:
        md, proto = self.metadata, self.protocol
        if md is None:
            raise ValueError(f"Delta log has no metaData action: {self.root}")
        min_reader = int(proto.get("minReaderVersion", 1))
        reader_features = set(proto.get("readerFeatures") or [])
        unsupported = reader_features - _SUPPORTED_READER_FEATURES
        if min_reader > 3 or (min_reader == 3 and unsupported):
            raise NotImplementedError(
                f"unsupported Delta reader requirement: version {min_reader}, "
                f"features {sorted(unsupported)}")
        live = self.live.values()
        return DeltaSnapshot(
            self.version, StructType.fromJson(json.loads(md["schemaString"])),
            list(md.get("partitionColumns") or []),
            dict(md.get("configuration") or {}), min_reader, reader_features,
            {a.path: a.partition_values for a in live},
            {a.path: a.dv for a in live if a.dv},
            {a.path: a.stats for a in live if a.stats})


class DeltaLakeReader:
    """Replays ``_delta_log`` and reads standard Delta tables."""

    # above this many total deleted positions (descriptor cardinality,
    # known without decoding) a pair frame is decoded on the executors
    # and joined as the planner chooses, instead of decoded driver-side
    # and broadcast: a 100 TB table with pervasive DVs has O(deleted
    # rows) positions, which must not hit driver memory or a
    # broadcast. 4M positions ~= 64 MB as (file, pos) pairs.
    dv_driver_positions_max: int = 4_000_000

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.log_dir = os.path.join(root, LOG_DIR)
        if not os.path.isdir(self.log_dir):
            raise FileNotFoundError(f"not a Delta table (no {LOG_DIR}): {root}")
        # version -> parsed commit; checkpoints under (version, parts)
        self._parsed: dict = {}

    # ------------------------------------------------------------- log scan

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.log_dir):
            if name.endswith(".json") and name[:-5].isdigit():
                out.append(int(name[:-5]))
        return sorted(out)

    def latest_version(self) -> int:
        vs = self.versions()
        ck = self._last_checkpoint()
        if not vs and ck is None:
            raise FileNotFoundError(f"empty Delta log: {self.log_dir}")
        return max(vs) if vs else ck["version"]

    def _last_checkpoint(self) -> dict | None:
        p = os.path.join(self.log_dir, "_last_checkpoint")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def commit(self, version: int) -> DeltaCommit:
        """Commit ``version``, parsed once per reader."""
        path = os.path.join(self.log_dir, f"{version:020d}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"missing Delta log version {version} (vacuumed?): {self.root}")
        if version not in self._parsed:
            with open(path) as f:
                actions = [json.loads(line) for line in f if line.strip()]
            self._parsed[version] = DeltaCommit.parse(
                version, actions, lambda: int(os.path.getmtime(path) * 1000))
        return self._parsed[version]

    def _commit_timestamp_ms(self, version: int) -> int:
        return self.commit(version).timestamp_ms

    def _checkpoint(self, ck: dict) -> DeltaCommit:
        """Checkpoint parquet rows -> one commit of add/remove/metaData/
        protocol actions (one non-null per row)."""
        import pyarrow.parquet as pq

        v, parts = ck["version"], ck.get("parts")
        if (v, parts) in self._parsed:
            return self._parsed[(v, parts)]
        if parts:
            paths = [
                os.path.join(
                    self.log_dir,
                    f"{v:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet")
                for i in range(parts)
            ]
        else:
            paths = [os.path.join(self.log_dir, f"{v:020d}.checkpoint.parquet")]
        actions: list[dict] = []
        for p in paths:
            for row in pq.read_table(p).to_pylist():
                for kind in ("metaData", "protocol", "add", "remove"):
                    if row.get(kind) is not None:
                        actions.append({kind: row[kind]})
        self._parsed[(v, parts)] = DeltaCommit.parse(v, actions)
        return self._parsed[(v, parts)]

    # ------------------------------------------------------------- snapshot

    def _replay(self, target: int) -> _Replay:
        """The table state at ``target`` (-1: before the first commit):
        the checkpoint when it is not past ``target``, then every JSON
        commit after it, through the one reconciliation step."""
        state = _Replay(self.root)
        ck = self._last_checkpoint()
        first = 0
        if ck is not None and ck["version"] <= target:
            state.apply(self._checkpoint(ck))
            first = ck["version"] + 1
        for v in range(first, target + 1):
            state.apply(self.commit(v))
        return state

    def snapshot(self, version: int | None = None,
                 timestamp_ms: int | None = None) -> DeltaSnapshot:
        if version is not None and timestamp_ms is not None:
            raise ValueError("pass version OR timestamp, not both")
        if timestamp_ms is not None:
            eligible = [v for v in self.versions()
                        if self.commit(v).timestamp_ms <= timestamp_ms]
            if not eligible:
                raise ValueError(
                    f"no commit at or before timestamp {timestamp_ms}")
            version = max(eligible)
        target = self.latest_version() if version is None else version
        return self._replay(target).snapshot()

    def history(self) -> list[dict]:
        """commitInfo per version, newest first (M6 parity for foreign
        Delta tables)."""
        return [{"version": v, **self.commit(v).info}
                for v in sorted(self.versions(), reverse=True)]

    # ----------------------------------------------------------------- read

    def _physical_fields(self, snap: DeltaSnapshot) -> list[tuple[str, str]]:
        """(logical, physical) names honoring column mapping. With
        mapping by name/id the parquet files store physical names from
        field metadata (delta.columnMapping.physicalName)."""
        pairs = []
        for f_ in snap.schema.fields:
            md = f_.metadata or {}
            phys = (md.get("delta.columnMapping.physicalName", f_.name)
                    if snap.column_mapping_mode in ("name", "id") else f_.name)
            pairs.append((f_.name, phys))
        return pairs

    def read(self, version: int | None = None,
             timestamp_ms: int | None = None,
             where: str | None = None) -> DataFrame:
        """Snapshot read (optionally time-traveled): distributed parquet
        scan of the active file set; partition values come from the log
        and are attached as typed literal columns per partition group;
        the rows kept are those live after the liveness rule of
        ``_read_files``, so a deletion vector's row indexes drop out.

        ``where`` enables protocol data skipping on MIGRATED tables:
        the add actions' stats (minValues/maxValues, written by
        delta-spark and friends) and partitionValues prune files for
        the provable conjuncts, then the full predicate filters the
        surviving rows — same contract as VersionedTable.read(where=).
        Predicate columns are logical names; under column mapping they
        translate to the physical stats keys."""
        snap = self.snapshot(version, timestamp_ms)
        files = snap.files
        if where is not None:
            from .stats import (file_may_match, parse_skipping_predicates,
                                partition_may_match)

            preds = parse_skipping_predicates(where)
            phys = dict(self._physical_fields(snap))
            preds = [(phys.get(c, c), op, v) for c, op, v in preds]
            if preds:
                files = {
                    p: pv for p, pv in files.items()
                    if partition_may_match(pv, preds)
                    and file_may_match(snap.stats.get(p, {}), preds)
                }
        out = self._read_files(snap, files, {}, {
            p: snap.dvs.get(p) for p in files}).drop("_change_type")
        return out.filter(where) if where is not None else out

    def data_path(self, rel: str) -> str:
        """Absolute path of a log ``path`` field (URL-encoded per the
        protocol)."""
        return os.path.join(self.root, urllib.parse.unquote(rel))

    def _dv_pairs(self, before: dict[str, dict | None],
                  after: dict[str, dict | None]) -> DataFrame | None:
        """The one pair frame of a read: (file basename ``__dvf``, row
        index ``__dvp``, dead before ``__dvb``, dead after ``__dva``) for
        each position in the deletion vectors of ``before`` and ``after``
        (log-relative path -> descriptor or None, per file live in the
        state before and after); None without vectors. Basenames are
        unique within a table (uuid-named part files) and, unlike full
        ``_metadata.file_path`` URIs, carry no URL-encodable characters.

        Up to ``dv_driver_positions_max`` total positions the two vector
        sets merge driver-side into one frame with a broadcast hint:
        Catalyst has no size estimate for local relations and planned
        SortMergeJoins, shuffling and sorting the DATA by (file, pos)
        just to drop a handful of rows (delta_dv_read: 10 SMJs ->
        broadcast hash joins). Above it only one row per file ships,
        its before and after descriptors (O(files), ~hundreds of bytes
        each, as one JSON pair); each task reads their sidecar bytes or
        inline payloads and merges them to positions, so the O(deleted
        rows) pairs never exist driver-side, and the planner picks the
        join from measured sizes."""
        dvs = {p: (before.get(p), after.get(p))
               for p in before.keys() | after.keys()
               if before.get(p) or after.get(p)}
        if not dvs:
            return None
        names = {p: os.path.basename(urllib.parse.unquote(p)) for p in dvs}
        total = sum(int(d.get("cardinality", 0))
                    for ba in dvs.values() for d in ba if d)
        if total <= self.dv_driver_positions_max:
            return F.broadcast(self.spark.createDataFrame(
                [(names[p], *t) for p, ba in dvs.items()
                 for t in _dead_positions(self.root, *ba)], _PAIRS_SCHEMA))
        root = self.root
        par = max(1, min(len(dvs), self.spark.sparkContext.defaultParallelism))
        desc = self.spark.createDataFrame(
            [(names[p], json.dumps(ba)) for p, ba in dvs.items()],
            "__dvf string, __desc string").repartition(par)

        def _decode(batches):
            import pandas as pd

            for pdf in batches:
                for f, dj in zip(pdf["__dvf"], pdf["__desc"]):
                    yield pd.DataFrame(
                        [(f, *t) for t in _dead_positions(root,
                                                          *json.loads(dj))],
                        columns=["__dvf", "__dvp", "__dvb", "__dva"])

        return desc.mapInPandas(_decode, _PAIRS_SCHEMA)

    def _read_files(self, snap: DeltaSnapshot,
                    files: dict[str, dict[str, str]],
                    before: dict[str, dict | None] | None = None,
                    after: dict[str, dict | None] | None = None,
                    change_files: bool = False) -> DataFrame:
        """``files`` (log-relative path -> partition values) as
        ``snap``'s logical schema. With ``before`` and ``after``
        (log-relative path -> deletion vector descriptor or None, per
        file live in the state before and after a change) the read
        applies the liveness rule: a row is live in a state when its
        file is live there and its row index is not in that state's
        vector. It keeps the rows live in exactly one state, typed by
        ``_change_type``: ``insert`` if live only after, ``delete`` if
        live only before.
        ``change_files``: the files are a commit's ``cdc`` files, whose
        ``_change_type`` column is read along. Their partition values
        come from the cdc action like an add's; an action of a
        partitioned table that names none raises ``ValueError``."""
        fields = self._physical_fields(snap)
        types = {f_.name: f_.dataType for f_ in snap.schema.fields}
        if not files:
            return self.spark.createDataFrame([], snap.schema)
        live = after is not None
        pairs = self._dv_pairs(before, after) if live else None
        # group by partition values (and file liveness before and after):
        # each group is one distributed scan with its literal columns;
        # groups then union (at scale the group count is the partition
        # count, not file count)
        groups: dict[tuple, list[str]] = {}
        for path, pvals in files.items():
            missing = [c for c in snap.partition_columns if c not in pvals]
            if change_files and missing:
                raise ValueError(f"cdc action {path} has no partition "
                                 f"value for {missing}")
            key = tuple(pvals.get(c) for c in snap.partition_columns)
            if live:
                key += (path in before, path in after)
            groups.setdefault(key, []).append(self.data_path(path))
        # explicit PHYSICAL read schema (non-partition fields): no
        # schema-inference footer job per partition group — the log
        # already declares the schema, and files missing a column
        # (add-only evolution) read it as null natively
        read_schema = StructType([
            StructField(phys, types[logical], True)
            for logical, phys in fields
            if logical not in snap.partition_columns])
        if change_files:
            read_schema.add("_change_type", StringType())
        parts = []
        for key, paths in sorted(groups.items()):
            df = self.spark.read.schema(read_schema).parquet(*paths)
            present = set(df.columns)
            cols = []
            for logical, phys in fields:
                if logical in snap.partition_columns:
                    cols.append(F.lit(key[snap.partition_columns.index(
                        logical)]).cast(types[logical]).alias(logical))
                elif phys in present:
                    cols.append(F.col(phys).cast(types[logical]).alias(logical))
                else:
                    cols.append(F.lit(None).cast(types[logical]).alias(logical))
            if change_files:
                cols.append(F.col("_change_type"))
            if live:
                cols += [F.lit(key[-2]).alias("__before"),
                         F.lit(key[-1]).alias("__after")]
            if pairs is not None:
                cols += [F.element_at(F.split(F.col("_metadata.file_path"),
                                              "/"), -1).alias("__dvfile"),
                         F.col("_metadata.row_index").alias("__dvpos")]
            parts.append(df.select(*cols))
        out = functools.reduce(DataFrame.unionByName, parts)
        if not live:
            return out
        was, now = F.col("__before"), F.col("__after")
        if pairs is not None:
            out = out.join(pairs, (F.col("__dvfile") == F.col("__dvf"))
                           & (F.col("__dvpos") == F.col("__dvp")), "left")
            was &= ~F.coalesce(F.col("__dvb"), F.lit(False))
            now &= ~F.coalesce(F.col("__dva"), F.lit(False))
        return out.filter(was != now).select(
            *(logical for logical, _ in fields),
            F.when(now, "insert").otherwise("delete").alias("_change_type"))

    # ------------------------------------------------------------------ CDF

    def read_change_feed(self, starting_version: int = 0,
                         ending_version: int | None = None) -> DataFrame:
        """Delta CDF semantics: commits carrying ``cdc`` actions emit
        exactly those files (they already contain _change_type).
        Otherwise the change set is derived from dataChange add/remove
        actions against the table state just before the commit,
        deletion-vector aware (``_derived_changes``). A commit missing
        from the range raises ``FileNotFoundError``."""
        end = self.latest_version() if ending_version is None else ending_version
        # the whole range first, so a gap raises before any replay
        commits = [self.commit(v) for v in range(starting_version, end + 1)]
        # a first commit with cdc files needs no prior state: replaying
        # through it lets a checkpoint AT the start serve a log vacuumed
        # below it
        first_cdc = bool(commits and commits[0].cdc)
        state = self._replay(starting_version - 1 + first_cdc)
        frames = []
        for c in commits:
            if c.cdc:
                if c.version > state.version:
                    state.apply(c)
                df = self._read_files(state.snapshot(), c.cdc,
                                      change_files=True)
            else:
                df = self._derived_changes(state, c)
            if df is not None:
                frames.append(
                    df.withColumn("_commit_version",
                                  F.lit(c.version).cast("long"))
                    .withColumn("_commit_timestamp",
                                F.timestamp_millis(F.lit(c.timestamp_ms))))
        if not frames:
            raise ValueError(
                f"no change data between versions {starting_version}..{end}")
        return functools.reduce(DataFrame.unionByName, frames)

    def _derived_changes(self, state: _Replay,
                         c: DeltaCommit) -> DataFrame | None:
        """Change rows of a commit without ``cdc`` actions: its
        dataChange files, read once under the liveness rule of
        ``_read_files`` between ``state``, the table just before the
        commit, and the same state after ``c`` applies to it. So a new
        file's live rows are inserts, a removed file's live rows are
        deletes, and a deletion-vector update (the data file itself is
        immutable) deletes the rows its vector gained and inserts the
        rows it lost."""
        paths = {a.path for a in c.adds + c.removes if a.data_change}
        before = {p: state.live[p] for p in paths if p in state.live}
        state.apply(c)
        after = {p: state.live[p] for p in paths if p in state.live}
        files = {p: a.partition_values for p, a in {**before, **after}.items()}
        if not files:
            return None
        return self._read_files(state.snapshot(), files,
                                {p: a.dv for p, a in before.items()},
                                {p: a.dv for p, a in after.items()})
