"""VersionedTable — ACID-ish versioned parquet tables for Spark.

Re-creates, from scratch and PySpark-native, the Delta Lake capability
surface the reference uses (SURVEY.md §2.1/§2.10):

- batch read / append / overwrite with schema merge   (S5, S11)
- time travel by version and by timestamp             (S6, S7)
- change data feed with _change_type/_commit_version  (S8)
- create / exists / drop                              (S9, S10, M9, M11)
- MERGE upsert and DELETE                             (M1-M3; tables/merge.py)
- VACUUM / OPTIMIZE / history / RESTORE               (M4-M7)
- table properties incl. enableChangeDataFeed         (M8)

Design for scale: the log is driver-side metadata (tiny); all data
movement is Spark jobs over parquet. Readers plan one distributed
scan of exactly the active files; writers use file-stats pruning so a
MERGE touching k of N files rewrites only those k (tables/merge.py).
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DecimalType, MapType, StringType,
                               StructField, StructType)

from deltalake_poc_spark.tables.log import (
    Commit, ConcurrentWriteError, FileEntry, Snapshot, TableLog,
    partition_values,
)
from deltalake_poc_spark.tables.merge import _METRICS
from deltalake_poc_spark.tables.sizing import sized_files
from deltalake_poc_spark.tables.stats import (BLOOM_COLS_PROP, BLOOM_FPP_PROP,
                                               collect_blooms_distributed,
                                               collect_file_stats)

CDF_PROP = "enableChangeDataFeed"
DV_PROP = "enableDeletionVectors"
DV_DIR = "_dv"
CDF_COLS = ("_change_type", "_commit_version", "_commit_timestamp")


# written type -> the other declared types the declared-schema parquet
# read decodes it as (Spark 4's vectorized reader, probed per pair).
# Spark's Cast.canUpCast admits more, e.g. long into string and date
# into timestamp, whose files then fail every read.
_WIDENINGS = {
    "tinyint": {"smallint", "int", "bigint", "double"},
    "smallint": {"int", "bigint", "double"},
    "int": {"bigint", "double"},
    "float": {"double"},
    "date": {"timestamp_ntz"},
    "timestamp": {"timestamp_ntz"},
    "timestamp_ntz": {"timestamp"},
    "binary": {"string"},
}
# integer digits a decimal needs to read an integral column: its
# parquet physical width (INT32 or INT64), not its declared range
_INT_DIGITS = {"tinyint": 10, "smallint": 10, "int": 10, "bigint": 20}


def _decodes_as(have, want) -> bool:
    """Whether files written with data type ``have`` read back as the
    declared type ``want``: equal types, a widening in _WIDENINGS, a
    decimal with room for every digit, or nested types whose parts
    each decode and whose nullability only widens. Struct fields match
    by name, as the parquet read resolves them."""
    if have == want:
        return True
    if isinstance(want, ArrayType):
        return (isinstance(have, ArrayType)
                and (want.containsNull or not have.containsNull)
                and _decodes_as(have.elementType, want.elementType))
    if isinstance(want, MapType):
        return (isinstance(have, MapType)
                and (want.valueContainsNull
                     or not have.valueContainsNull)
                and _decodes_as(have.keyType, want.keyType)
                and _decodes_as(have.valueType, want.valueType))
    if isinstance(want, StructType):
        return (isinstance(have, StructType)
                and have.names == want.names
                and all((w.nullable or not h.nullable)
                        and _decodes_as(h.dataType, w.dataType)
                        for h, w in zip(have.fields, want.fields)))
    if isinstance(want, DecimalType):
        if isinstance(have, DecimalType):
            return (have.scale <= want.scale and have.precision - have.scale
                    <= want.precision - want.scale)
        digits = _INT_DIGITS.get(have.simpleString())
        return digits is not None and want.precision - want.scale >= digits
    return want.simpleString() in _WIDENINGS.get(have.simpleString(), ())


class VersionedTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.log = TableLog(root)
        # incremental batch-id tail scan state (see applied_batch_ids)
        self._batch_ids: set[str] = set()
        self._batch_ids_scanned_to = -1

    # ------------------------------------------------------------------ DDL

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: StructType,
        properties: dict | None = None,
        if_not_exists: bool = False,
        partition_by: list[str] | None = None,
    ) -> "VersionedTable":
        """CREATE TABLE (reference: spark_delta_handler.py:109-125 DDL,
        create-delta-tables.py:93-116 schema-only create w/ CDF).
        ``partition_by`` enables Hive-style partitioned data layout —
        an improvement over the reference, which partitions nothing
        (partitionColumns: [] in every Delta log; SURVEY.md §4)."""
        t = cls(spark, root)
        if t.log.exists():
            if if_not_exists:
                return t
            raise FileExistsError(f"table already exists at {root}")
        props = dict(properties or {})
        if partition_by:
            missing = [c for c in partition_by
                       if c not in {f.name for f in schema.fields}]
            if missing:
                raise ValueError(f"partition columns not in schema: {missing}")
            props["partitionColumns"] = json.dumps(partition_by)
        os.makedirs(t.log.data_dir(), exist_ok=True)
        t._publish(Commit(operation="CREATE TABLE", schema_json=schema.json(),
                          properties=props), None)
        return t

    def partition_columns(self, snap: Snapshot | None = None) -> list[str]:
        snap = snap or self.snapshot()
        raw = snap.properties.get("partitionColumns")
        return json.loads(raw) if raw else []

    @classmethod
    def is_table(cls, root: str) -> bool:
        """M11 — reference: DeltaTable.isDeltaTable (spark_delta_handler.py:164)."""
        return TableLog(root).exists()

    @classmethod
    def for_path(cls, spark: SparkSession, root: str) -> "VersionedTable":
        t = cls(spark, root)
        if not t.log.exists():
            raise FileNotFoundError(f"not a versioned table: {root}")
        return t

    def drop(self) -> None:
        """M9 — DROP TABLE (notebook cell 32)."""
        shutil.rmtree(self.log.root, ignore_errors=True)

    # ------------------------------------------------------------- snapshots

    def snapshot(self, version: int | None = None,
                 timestamp_ms: int | None = None) -> Snapshot:
        return self.log.snapshot(version, timestamp_ms)

    def schema(self, snap: Snapshot | None = None) -> StructType | None:
        snap = snap or self.snapshot()
        return StructType.fromJson(json.loads(snap.schema_json)) if snap.schema_json else None

    def properties(self) -> dict:
        return self.snapshot().properties

    # ---------------------------------------------------------- column mapping

    COLUMN_MAPPING_PROP = "columnMapping.mode"

    @staticmethod
    def _physical(f) -> str:
        """Physical (on-disk) column name for a schema field — the
        ``physicalName`` field-metadata entry, defaulting to the
        logical name (Delta column mapping, reference README.md:149-162:
        renames/drops change metadata only, never rewrite parquet)."""
        return (f.metadata or {}).get("physicalName", f.name)

    def column_mapping(self, snap: Snapshot | None = None) -> dict[str, str]:
        """logical -> physical name map for a snapshot's schema."""
        schema = self.schema(snap)
        if schema is None:
            return {}
        return {f.name: self._physical(f) for f in schema.fields}

    def _mapping_enabled(self, snap: Snapshot | None = None) -> bool:
        snap = snap or (self.snapshot() if self.log.exists() else None)
        return bool(snap) and str(
            snap.properties.get(self.COLUMN_MAPPING_PROP, "")) == "name"

    def cdf_enabled(self, snap: Snapshot | None = None) -> bool:
        snap = snap or self.snapshot()
        return str(snap.properties.get(CDF_PROP, "false")).lower() == "true"

    @staticmethod
    def _dv_enabled(snap: Snapshot) -> bool:
        return str(snap.properties.get(DV_PROP, "false")).lower() == "true"

    def version(self) -> int:
        return self.log.latest_version()

    # ---------------------------------------------------------------- reads

    def read(self, version: int | None = None,
             timestamp_ms: int | None = None,
             where: str | None = None) -> DataFrame:
        """Batch read, optionally time-traveled (S5-S7; reference:
        spark.read.format('delta').option('versionAsOf'/'timestampAsOf')
        spark_delta_handler.py:253-267, notebook cells 20-24).

        ``where`` enables Delta-style DATA SKIPPING: provable AND-ed
        ``col <op> literal`` conjuncts prune files whose per-file
        [min, max] stats cannot contain a match (files_matching), and
        the FULL predicate is then applied to the surviving rows — so
        pruning is a pure optimization and arbitrary predicates stay
        correct. Pairs with OPTIMIZE ZORDER BY, which clusters the
        stats ranges so selective predicates touch few files."""
        snap = self.snapshot(version, timestamp_ms)
        if where is None:
            return self._read_files(snap.file_paths, snap)
        return self._read_files(self.files_matching(where, snap),
                                snap).filter(where)

    def _candidate_paths(self, snap: Snapshot, predicate) -> list[str]:
        """Stats-pruned scan list for finding rows where ``predicate``
        IS TRUE (DELETE/UPDATE discovery): a file whose [min, max]
        ranges exclude every provable conjunct cannot contain a TRUE
        row (NULL never satisfies IS TRUE), so sparse point operations
        scan candidate files, not the table. Column predicates prune
        nothing (conservative)."""
        if isinstance(predicate, str):
            return self.files_matching(predicate, snap)
        return snap.file_paths

    def files_matching(self, where: str, snap: Snapshot | None = None) -> list[str]:
        """Relative data-file paths whose stats admit ``where`` (see
        read). Deletion vectors only shrink a file's live rows, so its
        recorded [min, max] remain valid over-approximations."""
        from .stats import (bloom_may_match, file_may_match,
                            parse_skipping_predicates, partition_may_match)

        if snap is None:
            snap = self.snapshot()
        preds = parse_skipping_predicates(where)
        if not preds:
            return snap.file_paths
        return [e.path for e in snap.files
                if partition_may_match(e.partition, preds)
                and file_may_match(e.stats, preds)
                and bloom_may_match(e.bloom, preds)]

    def _scan(self, paths: list[str], schema: StructType | None,
              extra: tuple[StructField, ...] = (),
              base_path: str | None = None,
              with_position: bool = False) -> DataFrame:
        """The one place a read maps physical column names to logical
        ones. Files store PHYSICAL names (column mapping); the reader
        gets the declared physical schema (no schema-inference or
        mergeSchema footer job per read — the log already knows it),
        so columns a file lacks (add-only evolution) read as null and
        extra ones (dropped columns' data) are ignored natively. The
        output carries the logical names, then the ``extra`` fields
        unrenamed (CDF's ``_change_type``), then ``__file``/``__pos``
        (absolute file URI + row index) when ``with_position``."""
        reader = self.spark.read
        if schema is None:
            reader = reader.option("mergeSchema", "true")
        else:
            reader = reader.schema(StructType(
                [StructField(self._physical(f), f.dataType, True)
                 for f in schema.fields] + list(extra)))
        if base_path:
            # Hive-layout files: partition values live in the directory
            # names; basePath lets Spark recover (and prune on) them
            reader = reader.option("basePath", base_path)
        df = reader.parquet(*paths)
        cols = ["*"] if schema is None else (
            [F.col(self._physical(f)).cast(f.dataType).alias(f.name)
             for f in schema.fields] + [f.name for f in extra])
        if with_position:
            cols += [F.col("_metadata.file_path").alias("__file"),
                     F.col("_metadata.row_index").alias("__pos")]
        return df.select(*cols)

    def _read_files(self, rel_paths: list[str], snap: Snapshot,
                    with_position: bool = False,
                    schema: StructType | None = None) -> DataFrame:
        """Distributed scan of the given files, deletion-vector
        filtered and aligned to ``schema`` (default: the snapshot's).
        ``with_position=True`` keeps ``__file``/``__pos`` columns for
        callers that address rows by position (DV writes).

        DV filtering is a LEFT ANTI join on (file, row position)
        against the active DV rows of exactly the requested files —
        the DV side is tiny relative to the data (a few deleted
        positions per file; tables where DVs grow large should purge),
        so AQE plans a broadcast anti-join: the scan stays one pass,
        no table-sized shuffle."""
        schema = schema or self.schema(snap)
        if not rel_paths:
            if schema is None:
                raise ValueError("empty table with no declared schema")
            df = self.spark.createDataFrame([], schema)
            if with_position:
                df = (df.withColumn("__file", F.lit(None).cast("string"))
                        .withColumn("__pos", F.lit(None).cast("long")))
            return df
        dvs = ({p: snap.dvs[p] for p in rel_paths if p in snap.dvs}
               if snap.dvs else {})
        df = self._scan(
            [self.log.abs_path(p) for p in rel_paths], schema,
            base_path=(self.log.data_dir()
                       if self.partition_columns(snap) else None),
            with_position=bool(dvs) or with_position)
        if dvs:
            dv_df = (self.spark.read.schema("file string, pos long").parquet(
                        *sorted({self.log.abs_path(d) for d in dvs.values()}))
                     .filter(F.col("file").isin(list(dvs)))
                     .select(F.col("file").alias("__dvf"),
                             F.col("pos").alias("__dvp")))
            df = df.join(dv_df, (self._rel_path() == F.col("__dvf"))
                         & (F.col("__pos") == F.col("__dvp")), "left_anti")
            if not with_position:
                df = df.drop("__file", "__pos")
        return df

    def read_change_feed(self, starting_version: int = 0,
                         ending_version: int | None = None) -> DataFrame:
        """Change Data Feed read (S8; reference: notebook cells 25-26,
        54, 62 — option('readChangeFeed','true').option('startingVersion',v)).

        Which files each commit contributes, and with which
        ``_change_type``, is TableLog.change_feed (shared with the
        ``versioned_table`` streaming source). Output: table columns +
        _change_type/_commit_version/_commit_timestamp.
        """
        snap = self.snapshot()
        if not self.cdf_enabled(snap):
            raise ValueError(f"{CDF_PROP} is not set on table {self.log.root}")
        end = ending_version if ending_version is not None else snap.version
        schema = self.schema(snap)
        # a past commit's files read whole (no current deletion
        # vectors) under the current schema
        whole = dataclasses.replace(snap, dvs={})

        def _group(change_type: str | None, paths: list[str],
                   c: Commit) -> DataFrame:
            if change_type is None:
                # change files carry their own _change_type and sit in
                # k=v dirs under their commit's dir, like data files
                # under data/
                df = self._scan(
                    [self.log.abs_path(p) for p in paths], schema,
                    extra=(StructField("_change_type", StringType(), True),),
                    base_path=self.log.commit_changes_dir(c))
            else:
                df = self._read_files(paths, whole).withColumn(
                    "_change_type", F.lit(change_type))
            return (df.withColumn("_commit_version",
                                  F.lit(c.version).cast("long"))
                    .withColumn("_commit_timestamp",
                                F.timestamp_millis(F.lit(c.timestamp))))

        pieces: list[DataFrame] = []
        for c in self.log.commits(starting_version, end):
            piece = self._union([_group(t, paths, c)
                                 for t, paths in self.log.change_feed(c)])
            if piece is not None:
                pieces.append(piece)
        if not pieces:
            base = self.spark.createDataFrame([], schema) if schema else None
            if base is None:
                raise ValueError("empty CDF and no schema")
            return (base.withColumn("_change_type", F.lit(""))
                        .withColumn("_commit_version", F.lit(0).cast("long"))
                        .withColumn("_commit_timestamp", F.timestamp_millis(F.lit(0))))
        return self._union(pieces)

    @staticmethod
    def _union(parts: list[DataFrame]) -> DataFrame | None:
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # --------------------------------------------------------------- writes

    def _materialize(self, df: DataFrame, snap: Snapshot | None,
                     partition_by: list[str] | None = None,
                     mapping: dict[str, str] | None = None) -> list[FileEntry]:
        """The data files of :meth:`_write_files` over a frame of table
        rows (no change rows)."""
        return self._write_files(df, snap, partition_by, mapping)[0]

    def _write_files(self, df: DataFrame, snap: Snapshot | None,
                     partition_by: list[str] | None = None,
                     mapping: dict[str, str] | None = None
                     ) -> tuple[list[FileEntry], str | None]:
        """Write df's rows as new parquet files in ONE Spark write and
        return the data files' FileEntries (with footer-derived min/max
        stats) and the rel path of the change-file dir (None: no change
        rows). ``snap`` is the operation's pinned snapshot (None: the
        table is being created); its properties pick the bloom columns.
        With ``partition_by``, files land in Hive-style k=v directories
        and data files carry their partition values in the log entry.

        A row-level write (merge.write_classified) tags each row
        ``__cdc``: its false rows are data files under data/, its true
        rows (with ``_change_type``) change files under a UNIQUE
        _changes/ dir. Unique naming (not v=<planned>) is load-bearing
        for OCC: two writers racing for one version would otherwise
        overwrite the same contested directory and the winner's
        committed change files could be the loser's."""
        staging = self.log.new_data_file_dir()
        # column mapping: data and change files store PHYSICAL names;
        # stats are re-keyed back to logical below so pruning stays
        # logical. Callers committing a NEW schema (write() with
        # evolution) pass that schema's mapping — the snapshot's
        # mapping lags one commit
        if mapping is None:
            mapping = self.column_mapping(snap) if snap else {}
        inv = {v: k for k, v in mapping.items()}
        if any(k != v for k, v in mapping.items()):
            df = df.select(*[F.col(c).alias(mapping.get(c, c))
                             for c in df.columns])
        props = snap.properties if snap else {}
        bloom_cols = [c.strip()
                      for c in str(props.get(BLOOM_COLS_PROP, "")).split(",")
                      if c.strip()]
        bloom_fpp = float(props.get(BLOOM_FPP_PROP, 0.01))
        cdc = "__cdc" in df.columns
        partition_by = (["__cdc"] if cdc else []) + (partition_by or [])
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        # Size-targeted output files (tables/sizing.py), on the frame's
        # session: a foreachBatch frame runs in the stream's clone of
        # self.spark.
        with sized_files(df.sparkSession):
            writer.parquet(staging)
        data_root = os.path.join(staging, "__cdc=false") if cdc else staging
        change_rel, changed = None, os.path.join(staging, "__cdc=true")
        if cdc and os.path.isdir(changed):
            change_rel = f"{TableLog.CHANGES_DIR}/{uuid.uuid4().hex}"
            os.renames(changed, self.log.abs_path(change_rel))
        # Per-file blooms are computed by ONE distributed job over the
        # staged data files BEFORE they move to their final names —
        # write tasks read the data, the driver receives only the
        # serialized filters (keyed by staged path).
        staged_blooms: dict[str, dict] = {}
        if bloom_cols and os.path.isdir(data_root):
            staged_blooms = collect_blooms_distributed(
                self.spark, data_root,
                [mapping.get(c, c) for c in bloom_cols],
                fpp=bloom_fpp)
        entries: list[FileEntry] = []
        os.makedirs(self.log.data_dir(), exist_ok=True)
        for dirpath, _dirs, files in os.walk(data_root):
            subdir = os.path.relpath(dirpath, data_root)
            part_vals = partition_values(subdir)
            for name in sorted(files):
                if not name.endswith(".parquet"):
                    continue
                sub = "" if subdir == "." else subdir + "/"
                rel = f"{TableLog.DATA_DIR}/{sub}{uuid.uuid4().hex}.parquet"
                staged_abs = os.path.join(dirpath, name)
                os.makedirs(os.path.dirname(self.log.abs_path(rel)), exist_ok=True)
                shutil.move(staged_abs, self.log.abs_path(rel))
                n, stats = collect_file_stats(self.log.abs_path(rel))
                if n == 0:
                    os.unlink(self.log.abs_path(rel))
                    continue
                bloom = {}
                if bloom_cols:
                    # property names logical columns; files store
                    # physical names — translate both ways like stats
                    phys_bloom = staged_blooms.get(staged_abs, {})
                    bloom = {inv.get(c, c): b for c, b in phys_bloom.items()}
                if inv:
                    stats = {inv.get(c, c): v for c, v in stats.items()}
                entries.append(FileEntry(rel, n, stats, part_vals, bloom))
        shutil.rmtree(staging, ignore_errors=True)
        # only remove the shared _staging parent if it is empty: a
        # concurrent writer (write() retries on commit conflicts, so
        # concurrency is supported) may still have its own staging dir
        # in flight — rmtree of the parent would silently discard its
        # files and make it commit an empty add list
        try:
            os.rmdir(os.path.dirname(staging))
        except OSError:
            pass
        return entries, change_rel

    def _merged_schema_json(self, df: DataFrame, snap: Snapshot | None) -> str:
        """Schema-merge an incoming frame with the schema of ``snap``
        (None: the table is being created) (mergeSchema/autoMerge:
        SURVEY.md §1.4; spark_streaming.py:297)."""
        current = self.schema(snap) if snap else None
        if current is None:
            return df.schema.json()
        names = {f.name for f in current.fields}
        new_fields = [f for f in df.schema.fields if f.name not in names]
        if new_fields and self._mapping_enabled(snap):
            # fresh physical names for columns added under mapping: the
            # logical name may collide with a renamed/dropped column's
            # physical data still present in old files
            stamped = []
            for f in new_fields:
                md = dict(f.metadata or {})
                md.setdefault("physicalName",
                              f"{f.name}_{uuid.uuid4().hex[:8]}")
                stamped.append(StructField(f.name, f.dataType,
                                           f.nullable, md))
            new_fields = stamped
        merged = StructType(current.fields + new_fields)
        return merged.json()

    def _check_types(self, df: DataFrame, snap: Snapshot) -> None:
        """The column-type contract at commit: a column the table
        already has must arrive as its declared type or as one the
        declared-schema read widens to it (:func:`_decodes_as`: int
        into long). Any other type (string into long, long into int,
        long into string, nullable elements into a non-null array)
        would commit files that no read of the table can decode, so it
        raises before anything is staged."""
        declared = {f.name: f.dataType for f in self.schema(snap).fields}
        for f in df.schema.fields:
            want = declared.get(f.name, f.dataType)
            if _decodes_as(f.dataType, want):
                continue
            have, want = f.dataType.simpleString(), want.simpleString()
            if have == want:  # they differ in nullability only
                have, want = f.dataType.json(), declared[f.name].json()
            raise TypeError(f"column {f.name!r}: cannot write {have} "
                            f"into the table's {want}")

    def _publish(self, c: Commit, snap: Snapshot | None,
                 table_level: bool = False,
                 cleanup_on_fail: tuple[str, ...] = ()) -> Commit:
        """Publish a commit planned against ``snap`` (None: the table
        did not exist): the log numbers and stamps it under optimistic
        concurrency (TableLog.write_commit_with_rebase). CDF change
        files and DV sidecars are staged in unique directories recorded
        IN the commit (c.change_dir / c.dv_updates), so rebase needs no
        file moves and racing writers can never clobber each other's
        staged output. ``cleanup_on_fail`` lists rel dirs this operation
        staged — removed if the commit loses a conflict so aborted
        writers leave no orphans."""
        try:
            return self.log.write_commit_with_rebase(
                c, read_version=snap.version if snap is not None else None,
                table_level=table_level)
        except ConcurrentWriteError:
            for rel in cleanup_on_fail:
                shutil.rmtree(self.log.abs_path(rel), ignore_errors=True)
            raise

    def write(self, df: DataFrame, mode: str = "append",
              extra_params: dict | None = None) -> Commit:
        """Append/overwrite (S3, S11; reference: write_deltalake mode=
        append/overwrite delta_handler.py:107-112, df.write.format('delta')).
        Schema merge is always on (matching the reference's global
        spark.databricks.delta.schema.autoMerge.enabled=true)."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"bad mode {mode}")
        exists = self.log.exists()
        snap = self.snapshot() if exists else None
        if snap is not None:
            self._check_types(df, snap)
        schema_json = self._merged_schema_json(df, snap)
        pb = self.partition_columns(snap) if snap else []
        committed = StructType.fromJson(json.loads(schema_json))
        mapping = {f.name: self._physical(f) for f in committed.fields}
        from deltalake_poc_spark.tables.constraints import (
            apply_generated, enforce,
        )

        df = apply_generated(df, committed)
        if snap is not None:
            df = enforce(df, snap.properties, self.schema(snap))
        entries = self._materialize(df, snap, partition_by=pb or None,
                                    mapping=mapping)
        op = "APPEND" if (mode == "append" and exists) else (
            "OVERWRITE" if exists else "WRITE")
        commit = Commit(
            operation=op,
            operation_parameters={"mode": mode, **(extra_params or {})},
            add=entries,
            remove=snap.file_paths if (mode == "overwrite" and snap) else [],
            schema_json=schema_json,
            properties=None if exists else {},
            metrics={"numOutputRows": sum(e.num_records for e in entries),
                     "numFiles": len(entries)},
        )
        # appends are blind (no read-set): they rebase freely past
        # concurrent commits — unless schema/properties moved under us,
        # in which case our merged schema_json is stale and re-issuing
        # it would clobber the other writer's evolution (the conflict
        # check in write_commit_with_rebase catches exactly that).
        # overwrite replaces the table it READ: never rebases.
        return self._publish(commit, snap, table_level=(op == "OVERWRITE"))

    def applied_batch_ids(self) -> set[str]:
        """Batch ids that :meth:`append_batch` stamped into this table's
        log. Incremental: commits are immutable, so each call reads
        only the log tail since the previous call on this object."""
        if self.log.exists():
            latest = self.log.latest_version()
            for c in self.log.commits(start=self._batch_ids_scanned_to + 1,
                                      end=latest):
                bid = c.operation_parameters.get("batchId")
                if bid is not None:
                    self._batch_ids.add(bid)
            self._batch_ids_scanned_to = latest
        return set(self._batch_ids)

    def append_batch(self, df: DataFrame, batch_id=None) -> Commit | None:
        """Append one micro-batch, right-sized and replay-checked.

        Replay: ``batch_id`` is stamped into the commit's
        operationParameters (Delta's application transaction id); a
        batch whose id is already in the log is not written and the
        call returns None, so a replayed micro-batch appends once.

        Sizing: ``df.coalesce(ceil(bytes / advisory))``, the bytes from
        the optimized plan's statistics (driver-side, no job), advisory
        = ``spark.sql.adaptive.advisoryPartitionSizeInBytes``. A small
        batch lands as one file; a coalesce never adds partitions.
        Fallback: a plan with no estimate (its ``sizeInBytes``, or any
        leaf's, >= ``spark.sql.defaultSizeInBytes``, e.g. an RDD-backed
        or Kafka frame) takes ``df.hint("rebalance")``, which AQE sizes
        to the same advisory target inside the write's file-sizing
        scope (tables/sizing.py). Callers that need their own
        partitioning use :meth:`write`."""
        extra = None
        if batch_id is not None:
            if str(batch_id) in self.applied_batch_ids():
                return None
            extra = {"batchId": str(batch_id)}
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        sql_conf = df.sparkSession._jvm.org.apache.spark.sql.internal.SQLConf
        unknown = conf.defaultSizeInBytes()
        qe = df._jdf.queryExecution()
        nbytes = int(qe.optimizedPlan().stats().sizeInBytes())
        # a leaf without an estimate reports defaultSizeInBytes, which
        # the operators above it scale (a parsed RDD-backed frame came
        # to ~0.7x of it): the total is then no size at all
        leaves = qe.analyzed().collectLeaves()
        if nbytes >= unknown or any(
                int(leaves.apply(i).stats().sizeInBytes()) >= unknown
                for i in range(leaves.size())):
            sized = df.hint("rebalance")
        else:
            target = int(conf.getConf(
                sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES()))
            sized = df.coalesce(min(max(1, -(-nbytes // target)),
                                    2**31 - 1))
        return self.write(sized, "append", extra_params=extra)

    def set_properties(self, props: dict) -> Commit:
        """M8 — ALTER TABLE SET TBLPROPERTIES (create-delta-tables.py:119-137)."""
        snap = self.snapshot()
        merged = dict(snap.properties)
        merged.update(props)
        c = Commit(
            operation="SET TBLPROPERTIES",
            operation_parameters={"properties": props},
            properties=merged,
        )
        return self._publish(c, snap)

    def add_constraint(self, name: str, expr: str) -> Commit:
        """ALTER TABLE ADD CONSTRAINT (Delta parity): store a CHECK
        constraint and enforce it on every subsequent write/MERGE/
        UPDATE. Existing rows must already satisfy it (validated here
        with one early-terminating probe, like Delta's full-scan
        check). Constraint expressions reference LOGICAL column names;
        renaming a constrained column is rejected."""
        from deltalake_poc_spark.tables.constraints import (
            CONSTRAINT_PREFIX, constraints_of,
        )

        snap = self.snapshot()
        if name in constraints_of(snap.properties):
            raise ValueError(f"constraint {name} already exists")
        bad = (self.read()
               .filter(F.expr(expr).cast("boolean").eqNullSafe(F.lit(False)))
               .limit(1).collect())
        if bad:
            raise ValueError(
                f"cannot add constraint {name}: existing row violates "
                f"{expr!r}: {bad[0].asDict()}")
        merged = dict(snap.properties)
        merged[f"{CONSTRAINT_PREFIX}{name}"] = expr
        c = Commit(
            operation="ADD CONSTRAINT",
            operation_parameters={"name": name, "expr": expr},
            properties=merged,
        )
        # table_level: the validation probe read EVERY row, so the
        # read-set is the whole table — a concurrent blind append
        # could contain violating rows, and rebasing past it would
        # publish an already-violated constraint (Delta conflicts
        # metadata changes with all concurrent commits)
        return self._publish(c, snap, table_level=True)

    def drop_constraint(self, name: str) -> Commit:
        """ALTER TABLE DROP CONSTRAINT."""
        from deltalake_poc_spark.tables.constraints import CONSTRAINT_PREFIX

        snap = self.snapshot()
        key = f"{CONSTRAINT_PREFIX}{name}"
        if key not in snap.properties:
            raise ValueError(f"no such constraint: {name}")
        remaining = {k: v for k, v in snap.properties.items() if k != key}
        c = Commit(
            operation="DROP CONSTRAINT",
            operation_parameters={"name": name},
            properties=remaining,
        )
        return self._publish(c, snap)

    def _stamped_fields(self, schema: StructType) -> list[StructField]:
        """Every field with an explicit physicalName (idempotent) — the
        lazy 'enable column mapping' step: existing data files already
        use the current logical names, so physical defaults to them."""
        out = []
        for f in schema.fields:
            md = dict(f.metadata or {})
            md.setdefault("physicalName", f.name)
            out.append(StructField(f.name, f.dataType, f.nullable, md))
        return out

    def rename_column(self, old: str, new: str) -> Commit:
        """ALTER TABLE RENAME COLUMN via column mapping (reference
        README.md:149-162): a metadata-only commit — the logical name
        changes, the physicalName keeps pointing at the existing
        parquet columns, NO data files are rewritten. Time travel to
        pre-rename versions resolves through those versions' own
        schemas, so old logical names keep working there."""
        snap = self.snapshot()
        schema = self.schema(snap)
        if schema is None:
            raise ValueError("table has no declared schema")
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no such column: {old}")
        if new in names:
            raise ValueError(f"column already exists: {new}")
        if old in self.partition_columns(snap):
            raise ValueError("cannot rename a partition column")
        from deltalake_poc_spark.tables.constraints import constraints_of

        referenced = [n for n, e in constraints_of(snap.properties).items()
                      if re.search(rf"\b{re.escape(old)}\b", e)]
        if referenced:
            raise ValueError(
                f"cannot rename column {old}: referenced by "
                f"constraint(s) {referenced}; drop them first")
        fields = []
        for f in self._stamped_fields(schema):
            if f.name == old:
                f = StructField(new, f.dataType, f.nullable, f.metadata)
            fields.append(f)
        props = dict(snap.properties)
        props[self.COLUMN_MAPPING_PROP] = "name"
        # bloom columns are configured by LOGICAL name: follow the
        # rename so future files keep their blooms (already-written
        # files keep old-name keys — conservative no-prune, still
        # correct)
        if props.get(BLOOM_COLS_PROP):
            props[BLOOM_COLS_PROP] = ",".join(
                new if cc.strip() == old else cc.strip()
                for cc in str(props[BLOOM_COLS_PROP]).split(","))
        c = Commit(
            operation="RENAME COLUMN",
            operation_parameters={"oldName": old, "newName": new},
            schema_json=StructType(fields).json(),
            properties=props,
        )
        return self._publish(c, snap)

    def drop_column(self, name: str) -> Commit:
        """ALTER TABLE DROP COLUMN via column mapping: metadata-only —
        the field leaves the logical schema; its physical data stays in
        the files (readers never select it) until files are naturally
        rewritten. Time travel before the drop still sees it."""
        snap = self.snapshot()
        schema = self.schema(snap)
        if schema is None:
            raise ValueError("table has no declared schema")
        if name not in [f.name for f in schema.fields]:
            raise ValueError(f"no such column: {name}")
        if name in self.partition_columns(snap):
            raise ValueError("cannot drop a partition column")
        fields = [f for f in self._stamped_fields(schema) if f.name != name]
        if not fields:
            raise ValueError("cannot drop the last column")
        props = dict(snap.properties)
        props[self.COLUMN_MAPPING_PROP] = "name"
        c = Commit(
            operation="DROP COLUMN",
            operation_parameters={"name": name},
            schema_json=StructType(fields).json(),
            properties=props,
        )
        return self._publish(c, snap)

    # ----------------------------------------------------- merge and delete

    def merge(self, source: DataFrame, on: str | list[str]):
        """MERGE builder (J4/M1; reference: DeltaTable.merge
        spark_streaming.py:345-359, SQL MERGE spark_delta_handler.py:218-236)."""
        from deltalake_poc_spark.tables.merge import MergeBuilder

        return MergeBuilder(self, source, on)

    def delete(self, predicate) -> Commit:
        """DELETE by predicate (J5/M3; reference: delta_table.delete
        spark_streaming.py:385, SQL DELETE spark_delta_handler.py:160-169).
        Removes rows where the predicate IS TRUE (false/null rows stay).

        Stats pruning picks candidate files; a distributed ``__file``
        probe (copy-on-write) finds the ones holding matches, and only
        those are rewritten — unlike the reference's collect()-ids-to-
        driver approach (spark_streaming.py:367-389), nothing large hits
        the driver. With ``enableDeletionVectors`` the matches' (file,
        position) go into a deletion-vector sidecar instead and no data
        file is rewritten. Writing, change rows, counts and the commit
        are the shared row-level path (tables/merge.write_classified).
        """
        return self._row_level("DELETE", predicate)

    def update(self, set_exprs: dict, predicate=None) -> Commit:
        """UPDATE (M2 analogue — the reference expresses conditional
        update through MERGE; provided for API completeness): rows
        where ``predicate`` (default: every row) IS TRUE take
        ``set_exprs`` (column -> SQL string or Column over the
        pre-image). Copy-on-write rewrites the files holding matches;
        with ``enableDeletionVectors`` the matched rows are DV'd in
        place and their post-images append as new files — no rewrite of
        the untouched rows (Delta's DV-enabled UPDATE). Same shared
        row-level path as delete()."""
        return self._row_level("UPDATE", predicate, set_exprs)

    def _row_level(self, op: str, predicate,
                   set_exprs: dict | None = None) -> Commit:
        """DELETE/UPDATE discovery and classification over one pinned
        snapshot: each row of the files read is tagged ``__action`` D/U
        (predicate IS TRUE) or C (copy), then write_classified does the
        rest."""
        from deltalake_poc_spark.tables.merge import write_classified

        params = {"predicate": str(predicate)}
        snap = self.snapshot()
        cand = (self._candidate_paths(snap, predicate)
                if predicate is not None else snap.file_paths)
        if not cand:
            return self._noop_commit(op, params, snap)
        hit = F.lit(True) if predicate is None else F.coalesce(
            F.expr(predicate) if isinstance(predicate, str) else predicate,
            F.lit(False))
        rows = self._read_files(cand, snap, with_position=True)
        touched: list[str] = []
        if self._dv_enabled(snap):
            rows = rows.filter(hit)  # only matches are addressed
        else:
            # the __file probe: rewrite only files holding a match
            touched = [r["file"] for r in rows.filter(hit).select(
                self._rel_path().alias("file")).distinct().collect()]
            if not touched:
                return self._noop_commit(op, params, snap)
            rows = self._read_files(touched, snap)
        schema = self.schema(snap)
        pre = [F.col(f.name) for f in schema.fields]
        post = pre
        if set_exprs is not None:
            exprs = {c: F.expr(e) if isinstance(e, str) else e
                     for c, e in set_exprs.items()}
            post = [exprs[f.name].cast(f.dataType).alias(f.name)
                    if f.name in exprs else F.col(f.name)
                    for f in schema.fields]
        change = "D" if set_exprs is None else "U"
        classified = rows.withColumn(
            "__action", F.when(hit, F.lit(change)).otherwise(F.lit("C")))
        return write_classified(self, snap, op, params, classified, change,
                                schema, pre, post, touched)

    def _dv_sidecar_from(self, matches: DataFrame, snap: Snapshot
                         ) -> tuple[str | None, list[str], int, int]:
        """Build one consolidated DV sidecar from ``matches`` (a frame
        carrying ``__file``/``__pos``): the new (file, pos) rows plus
        every prior active DV row, written under a fresh unique dir.
        Returns (dv_rel, dv'd file list, total rows, new rows);
        dv_files empty means no vector at all (the empty sidecar is
        removed).

        Each DV commit CONSOLIDATES: every DV'd file re-maps to the new
        sidecar — one active DV dir at a time, no fragment chain for
        readers to union.

        The unique sidecar dir (not v=<planned>) keeps two racing DV
        writers from overwriting each other's staged sidecar."""
        tagged = matches.select(self._rel_path().alias("file"),
                                F.col("__pos").cast("long").alias("pos"),
                                F.lit(1).alias("__new"))
        prior_dirs = sorted(set(snap.dvs.values()))
        if prior_dirs:
            prior = (self.spark.read.schema("file string, pos long").parquet(
                        *[self.log.abs_path(d) for d in prior_dirs])
                     .filter(F.col("file").isin(list(snap.dvs)))
                     .select("file", F.col("pos").cast("long").alias("pos"),
                             F.lit(0).alias("__new")))
            tagged = tagged.unionByName(prior)
        # stats ride the sidecar write via observe(), above the dedup
        # (an observe below it is lost when AQE drops an empty shuffle
        # stage): the write is the single consumer of the dedup'd
        # frame, so no persist and no separate stats job. A position
        # already in a prior vector is not new
        from pyspark.sql import Observation

        obs = Observation()
        dedup = tagged.groupBy("file", "pos").agg(
            F.min("__new").alias("__new")).observe(
                obs, F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("__new"), F.lit(0)).alias("new"),
                F.collect_set("file").alias("fs"))
        dv_rel = f"{DV_DIR}/{uuid.uuid4().hex}"
        out_dir = self.log.abs_path(dv_rel)
        dedup.drop("__new").coalesce(1).write.mode("overwrite").parquet(
            out_dir)
        stats = obs.get
        dv_files = list(stats["fs"])
        if not dv_files:
            shutil.rmtree(out_dir, ignore_errors=True)
            return None, [], 0, 0
        return dv_rel, dv_files, int(stats["n"]), int(stats["new"])

    def purge_deletion_vectors(self, target_file_rows: int = 1_000_000) -> Commit:
        """REORG TABLE ... APPLY (PURGE) parity: the OPTIMIZE rewrite of
        every DV'd file, which drops its deleted rows and its vector.
        Run when DVs grow past broadcast size or before deltaexport
        (standard Delta's DV encoding is a different binary format)."""
        snap = self.snapshot()
        files = [e for e in snap.files if e.path in snap.dvs]
        return self._rewrite(snap, files, target_file_rows, "PURGE",
                             {"purgedFiles": len(files)})

    def _rel_path(self):
        """Column: the log-relative path of each row's ``__file`` URI
        (``_metadata.file_path``), computed on the executors. Its path
        part is percent-encoded exactly as Hadoop encodes the table
        root's own qualified URI, so that encoded root path is stripped
        and the rest decoded once ('+' is literal in paths, so it is
        kept from URL-decoding to a space). Scheme and authority go
        first: Hadoop spells a local root ``file:///r`` where scans
        report ``file:/r``. A row outside the root fails the job
        instead of mapping to no file."""
        jroot = self.spark._jvm.org.apache.hadoop.fs.Path(self.log.root)
        prefix = jroot.getFileSystem(
            self.spark._jsc.hadoopConfiguration()).makeQualified(
                jroot).toUri().getRawPath().rstrip("/") + "/"
        path = F.regexp_replace(F.col("__file"), "^[A-Za-z][^:/]*:(//[^/]*)?", "")
        rel = F.url_decode(F.regexp_replace(
            path.substr(F.lit(len(prefix) + 1), F.length(path)), "\\+", "%2B"))
        return F.when(path.startswith(prefix), rel).otherwise(F.raise_error(
            F.concat(F.lit("data file outside the table root: "),
                     F.col("__file"))))

    def _noop_commit(self, op: str, params: dict, snap: Snapshot) -> Commit:
        """Record an operation that changed nothing: with no read-set,
        its commit rebases past any concurrent commit. Its metrics are
        the operation's own, all zero."""
        return self._publish(Commit(
            operation=op, operation_parameters=params,
            metrics=dict.fromkeys(_METRICS[op].values(), 0)), snap)

    # ----------------------------------------------------------- maintenance

    def history(self) -> list[dict]:
        """M6 — DESCRIBE HISTORY (delta_handler.py:227-234, notebook 11/22/27)."""
        return [c.to_json() for c in reversed(self.log.commits())]

    def history_df(self) -> DataFrame:
        rows = [
            (c["version"], c["timestamp"], c["operation"],
             json.dumps(c["operationParameters"]), json.dumps(c["metrics"]))
            for c in self.history()
        ]
        return self.spark.createDataFrame(
            rows, "version long, timestamp long, operation string, "
                  "operationParameters string, operationMetrics string")

    def optimize(self, target_file_rows: int = 1_000_000,
                 zorder_by: list[str] | None = None,
                 partitions: dict[str, str] | None = None) -> Commit:
        """M5 — OPTIMIZE compaction (spark_delta_handler.py:282-289).
        Rewrites the current snapshot into ~target-sized files. With
        ``zorder_by``: Morton bit-interleaved clustering (tables/
        zorder.py) so per-file min/max stats prune on EVERY clustered
        column, not just the leading one — the Delta OPTIMIZE ZORDER
        equivalent. With ``partitions`` (column -> value), only files
        of matching partitions rewrite (Delta's OPTIMIZE ... WHERE) —
        at scale you compact the hot partition, not the table."""
        snap = self.snapshot()
        files = snap.files
        if partitions:
            pcols = self.partition_columns(snap)
            unknown = set(partitions) - set(pcols)
            if unknown:
                raise ValueError(
                    f"optimize partitions filter on non-partition cols: {unknown}")
            files = [e for e in files
                     if all(e.partition.get(k) == str(v)
                            for k, v in partitions.items())]
        return self._rewrite(snap, files, target_file_rows, "OPTIMIZE",
                             {"zorderBy": zorder_by or [],
                              "partitions": partitions or {}}, zorder_by)

    def _rewrite(self, snap: Snapshot, files: list[FileEntry],
                 target_file_rows: int, op: str, params: dict,
                 zorder_by: list[str] | None = None) -> Commit:
        """The OPTIMIZE rewrite: ``files``' live rows (deletion vectors
        applied) re-materialize into ~``target_file_rows``-row files,
        Z-ordered by ``zorder_by`` if given, and replace ``files``."""
        if not files:
            return self._noop_commit(op, {}, snap)
        df = self._read_files([e.path for e in files], snap)
        nparts = max(1, -(-sum(e.num_records for e in files)
                          // target_file_rows))
        if zorder_by:
            from deltalake_poc_spark.tables.zorder import apply_zorder

            df = apply_zorder(df, zorder_by, nparts)
        else:
            df = df.repartition(nparts)
        entries = self._materialize(
            df, snap, partition_by=self.partition_columns(snap) or None)
        return self._publish(Commit(
            operation=op, operation_parameters=params, add=entries,
            remove=[e.path for e in files],
            metrics={_METRICS[op]["removed"]: len(files),
                     _METRICS[op]["added"]: len(entries)}), snap)

    def clone(self, new_root: str, version: int | None = None,
              timestamp_ms: int | None = None) -> "VersionedTable":
        """Zero-copy CLONE (Delta's shallow/cheap clone, done one
        better: hard links instead of absolute-path references, so the
        clone is self-contained and survives the source's deletion).
        The chosen snapshot's data files hard-link into the new root
        under the same relative paths — no data movement, O(files)
        metadata work — and a single v0 commit carries the schema,
        properties, partition layout, and per-file stats. Writes to
        either table diverge independently; VACUUM unlinks only its
        own directory entries (the shared inode lives until the last
        link is gone). CDF history does not carry over (the clone's
        change feed starts at its own v0), matching Delta clones."""
        snap = self.snapshot(version, timestamp_ms)
        clone = VersionedTable(self.spark, new_root)
        new_log = clone.log
        if new_log.exists():
            raise FileExistsError(f"table already exists at {new_root}")
        linked = copied = 0

        def _link_or_copy(src: str, dst: str) -> None:
            # hard link when possible; EXDEV/EPERM (cross-filesystem
            # destination, link-restricted mount) degrade to a copy
            # instead of failing the clone partway through
            nonlocal linked, copied
            try:
                os.link(src, dst)
                linked += 1
            except OSError:
                shutil.copy2(src, dst)
                copied += 1

        created_root = not os.path.isdir(new_root)
        try:
            os.makedirs(new_log.data_dir(), exist_ok=True)
            for fe in snap.files:
                src = self.log.abs_path(fe.path)
                dst = new_log.abs_path(fe.path)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                _link_or_copy(src, dst)
            for dv_rel in sorted(set(snap.dvs.values())):
                src_dir = self.log.abs_path(dv_rel)
                for dirpath, _dirs, files in os.walk(src_dir):
                    for name in files:
                        sp = os.path.join(dirpath, name)
                        rel = os.path.relpath(sp, self.log.root)
                        dp = new_log.abs_path(rel)
                        os.makedirs(os.path.dirname(dp), exist_ok=True)
                        _link_or_copy(sp, dp)
            clone._publish(Commit(
                operation="CLONE",
                operation_parameters={"source": self.log.root,
                                      "sourceVersion": snap.version},
                add=list(snap.files),
                schema_json=snap.schema_json,
                properties=dict(snap.properties),
                dv_updates=dict(snap.dvs),
                metrics={"numCopiedFiles": copied,
                         "numLinkedFiles": linked},
            ), None)
        except BaseException:
            # never leave a half-built table (files but no v0 commit)
            if created_root:
                shutil.rmtree(new_root, ignore_errors=True)
            else:
                for sub in (TableLog.DATA_DIR, DV_DIR, TableLog.LOG_DIR):
                    shutil.rmtree(os.path.join(new_root, sub),
                                  ignore_errors=True)
            raise
        return clone

    def count_rows(self, snap: Snapshot | None = None) -> int:
        """Metadata-only COUNT(*): per-file numRecords from the commit
        log minus the cardinality of active deletion vectors — no data
        scan, no Spark job (Delta answers count(*) from stats the same
        way). The DV sidecars are tiny positional parquets
        (TableLog.dv_positions); at 100 TB this is O(log) arithmetic
        against a full-corpus scan."""
        if snap is None:
            snap = self.snapshot()
        return (sum(e.num_records for e in snap.files)
                - sum(map(len, self.log.dv_positions(snap.dvs).values())))

    def detail(self) -> dict:
        """DESCRIBE DETAIL parity: one metadata-only dict of table
        facts (format, location, version, file/byte counts, partition
        columns, properties, active deletion vectors, constraints)."""
        from deltalake_poc_spark.tables.constraints import constraints_of

        snap = self.snapshot()
        size = 0
        for e in snap.files:
            try:
                size += os.path.getsize(self.log.abs_path(e.path))
            except OSError:
                pass
        return {
            "format": "parquet+jsonlog",
            "location": self.log.root,
            "version": snap.version,
            "numFiles": len(snap.files),
            "sizeInBytes": size,
            "numRecords": sum(e.num_records for e in snap.files),
            "partitionColumns": self.partition_columns(snap),
            "properties": dict(snap.properties),
            "numDeletionVectors": len(snap.dvs),
            "constraints": constraints_of(snap.properties),
            "createdAt": self.log.read_commit(0).timestamp,
            "lastModified": snap.timestamp,
        }

    def vacuum(self, retention_hours: float = 168.0) -> list[str]:
        """M4 — VACUUM (delta_handler.py:275-285; default 168h retention
        shared/config.py:109). One rule for every entry of data/, _dv/,
        _changes/ and _staging/, against cutoff = now - retention:

        - referenced by the current version: kept;
        - released by the log: deleted iff released at or before the
          cutoff. A data file or DV dir is released by the commit that
          drops its last reference (RESTORE can reference it again); a
          change dir by its own commit, except that the latest
          commit's dir stays live (Delta's CDF files age out with
          vacuum the same way);
        - referenced by no commit (staged by a writer that crashed or
          lost a conflict): deleted iff its mtime is at or before the
          cutoff, so an in-flight writer's fresh files survive.

        Returns deleted relative paths."""
        commits = self.log.commits()
        active: dict[str, FileEntry] = {}
        dvs: dict[str, str] = {}
        released: dict[str, int] = {}
        held: set[str] = set()  # DV dirs the replayed version references
        for c in commits:
            released.update(dict.fromkeys(c.remove, c.timestamp))
            TableLog.apply(c, active, dvs)
            now = set(dvs.values())
            released.update(dict.fromkeys(held - now, c.timestamp))
            held = now
            if c.change_dir:
                released[c.change_dir] = c.timestamp
        live = set(active) | held | {commits[-1].change_dir}
        cutoff = int(time.time() * 1000) - int(retention_hours * 3600 * 1000)
        deleted = []
        for top in (TableLog.DATA_DIR, DV_DIR, TableLog.CHANGES_DIR,
                    TableLog.STAGING_DIR):
            base = self.log.abs_path(top)
            if top == TableLog.DATA_DIR:
                found = [os.path.join(d, f)
                         for d, _, fs in os.walk(base) for f in fs]
            else:
                found = ([os.path.join(base, n) for n in os.listdir(base)]
                         if os.path.isdir(base) else [])
            for p in found:
                rel = os.path.relpath(p, self.log.root)
                if rel in live:
                    continue
                if rel not in released:  # never referenced: age by mtime
                    try:
                        released[rel] = int(os.path.getmtime(p) * 1000)
                    except OSError:
                        continue
                if released[rel] <= cutoff:
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        os.unlink(p)
                    deleted.append(rel)
        try:  # the shared _staging parent goes once it is empty
            os.rmdir(self.log.abs_path(TableLog.STAGING_DIR))
        except OSError:
            pass
        return deleted

    def restore(self, version: int) -> Commit:
        """M7 — RESTORE TABLE TO VERSION AS OF (README.md:145)."""
        target = self.snapshot(version)
        current = self.snapshot()
        cur_paths = set(current.file_paths)
        tgt_paths = set(target.file_paths)
        # restore DVs too: files kept across the restore revert to the
        # target version's vector (or an explicit clear if it had none)
        dv_updates: dict = dict(target.dvs)
        for p_ in cur_paths & tgt_paths:
            if p_ in current.dvs and p_ not in target.dvs:
                dv_updates[p_] = None
        c = Commit(
            operation="RESTORE",
            operation_parameters={"version": version},
            add=[f for f in target.files if f.path not in cur_paths],
            remove=[p for p in current.file_paths if p not in tgt_paths],
            schema_json=target.schema_json,
            dv_updates=dv_updates,
            metrics={"restoredVersion": version},
        )
        return self._publish(c, current, table_level=True)
