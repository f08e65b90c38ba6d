"""Batch CDC apply — audit append + per-table dedup'd MERGE/DELETE.

The reference applies CDC three ways (row-at-a-time delta-rs
consumer/python-consumer/delta_handler.py:163-225, per-event SQL MERGE
spark_delta_handler.py:143-242, and per-micro-batch
spark_streaming.py:306-414). This module is the single batch-oriented
engine all of those collapse into (SURVEY.md §3.2), with the
reference's two scale bugs fixed:

1. **In-batch duplicate keys** (SURVEY.md §7.3): Delta MERGE throws on
   multiple source rows per key; the reference never dedups
   (spark_streaming.py:345-359). Here: keep the LATEST event per key
   — ordered by (source_lsn, offset) — via a window before merging; a
   trailing delete wins over earlier upserts.
2. **Driver-side delete** (spark_streaming.py:367-389 collects ids to
   the driver then calls delete). Here: deletes ride the same MERGE as
   a ``when_matched_delete`` clause — fully distributed, one pass.

A batch's tables are applied concurrently: the audit append and one
task per snapshot table share a thread pool bounded by the session's
default parallelism. Each table has its own log, and Delta scopes
optimistic concurrency to one table's log (VLDB 2020), so the tasks
cannot conflict. Errors and replay: ``apply_batch`` waits for every
task and then raises the first error in task order; tables whose task
succeeded keep their commits, and a replay of the same ``batch_id``
appends no audit rows twice and re-converges every snapshot.
"""

from __future__ import annotations

import functools
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

from deltalake_poc_spark.cdc import schema as S
from deltalake_poc_spark.tables import VersionedTable


class CDCApplier:
    """Applies parsed CDC event batches to an audit table + per-table
    snapshot tables (both VersionedTable)."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        table_schemas: dict[str, StructType] | None = None,
        key_col: str = "id",
        enable_cdf: bool = True,
        infer_unknown_tables: bool = False,
        evolve_schema: bool = False,
        auto_compact_every: int = 0,
        target_file_rows: int = 1_000_000,
        standard_mirror_path: str | None = None,
    ):
        """``auto_compact_every``: run OPTIMIZE on a snapshot table every
        N merge commits (0 = off). Micro-batch MERGEs produce small
        rewritten files each trigger — the reference hits the same
        small-file problem and schedules OPTIMIZE/VACUUM manually
        (spark_delta_handler.py:282-289, SURVEY.md §4); here compaction
        is a built-in policy of the apply loop.

        ``standard_mirror_path``: after each batch, incrementally sync
        every touched snapshot table to ``<path>/<table>`` as a
        STANDARD Delta table (tables/deltaexport.py) — the reference
        stack's delta-rs/delta-spark consumers can then follow the CDC
        output live without this engine. Metadata-only per sync (new
        commits' files hard-link; no data rewrite)."""
        self.spark = spark
        self.base_path = base_path
        self.table_schemas = dict(table_schemas or S.TABLE_SCHEMAS)
        self.key_col = key_col
        self.enable_cdf = enable_cdf
        self.infer_unknown_tables = infer_unknown_tables
        self.evolve_schema = evolve_schema
        self.auto_compact_every = auto_compact_every
        self.target_file_rows = target_file_rows
        self.standard_mirror_path = standard_mirror_path
        self._tables: dict[str, VersionedTable] = {}
        self._merges_since_compact: dict[str, int] = {}

    # ------------------------------------------------------------- tables

    def errors_table(self) -> VersionedTable:
        """Dead-letter table for malformed messages (cdc/parse.py
        split_malformed). The reference logs-and-skips; a DLQ table
        keeps the bad messages queryable and replayable."""
        from pyspark.sql.types import (
            IntegerType, LongType, StringType, StructField, StructType,
            TimestampType,
        )

        schema = StructType([
            StructField("key", StringType()),
            StructField("value", StringType()),
            StructField("topic", StringType()),
            StructField("partition_id", IntegerType()),
            StructField("offset", LongType()),
            StructField("error", StringType()),
            StructField("failed_at", TimestampType()),
        ])
        return self._get_or_create("cdc_errors", schema)

    def audit_table(self) -> VersionedTable:
        """Audit table, partitioned by source_table — the partitioning
        the reference never added (partitionColumns: [] everywhere;
        SURVEY.md §4 flags this as the obvious improvement): per-table
        audit queries then scan only their partition."""
        return self._get_or_create("cdc_events", S.CDC_EVENTS_SCHEMA,
                                   partition_by=["source_table"])

    def snapshot_table(self, name: str) -> VersionedTable:
        base = self.table_schemas[name]
        return self._get_or_create(
            name, StructType(base.fields + list(S.META_FIELDS)))

    def _get_or_create(self, name: str, schema: StructType,
                       partition_by: list[str] | None = None) -> VersionedTable:
        if name not in self._tables:
            root = f"{self.base_path}/{name}"
            if VersionedTable.is_table(root):
                self._tables[name] = VersionedTable.for_path(self.spark, root)
            else:
                props = {"enableChangeDataFeed": "true"} if self.enable_cdf else {}
                self._tables[name] = VersionedTable.create(
                    self.spark, root, schema, properties=props,
                    if_not_exists=True, partition_by=partition_by,
                )
        return self._tables[name]

    # -------------------------------------------------------------- apply

    def applied_batch_ids(self) -> set[str]:
        """Batch ids already appended to the audit table — the
        foreachBatch idempotence marker (an incremental log-tail scan;
        see VersionedTable.applied_batch_ids)."""
        return self.audit_table().applied_batch_ids()

    def apply_batch(self, events: DataFrame,
                    tables: list[str] | None = None,
                    batch_id: str | None = None,
                    cache: bool = True) -> dict[str, dict]:
        """Apply one batch of parsed CDC events (CDC_EVENTS_SCHEMA shape):
        append all to the audit table and MERGE per-table snapshots.
        Returns per-table merge metrics.

        The audit append is VersionedTable.append_batch, which sizes its
        files and makes it exactly-once under at-least-once delivery
        (Spark replays the last un-committed micro-batch after a
        crash): ``batch_id`` is stamped into the append commit and a
        replay of an already-appended batch skips the append. Snapshot
        MERGEs are idempotent by construction (same
        latest-event-per-key result), so they simply re-converge.
        This closes the reference's replay-duplicates gap on the audit
        path (its audit table is plain append; T3 in SURVEY.md §2.9).

        The audit append and each table's task (its MERGE, then its
        auto-compaction and standard-Delta mirror export) run
        concurrently on one pool of ``min(tasks, defaultParallelism)``
        threads. Each table has its own log, so the tasks never
        conflict, and every Spark job keeps the caller's job group and
        local properties. Every task runs to its end; then the first
        error in task order (the audit append, then tables by name)
        raises, and no task is still writing. The tables whose task
        succeeded stay committed, so the replay contract above is the
        recovery: re-applying the batch under the same ``batch_id``
        skips the audit append and converges every table.
        """
        # cache=False: callers slicing one parsed+persisted frame into
        # multiple batches pass it to avoid re-serializing every slice
        # into its own cache copy (the events frame is read 2+ times
        # below: the audit append and each table's merge)
        own_persist = cache
        if own_persist:
            events = events.persist()
        try:
            seen = None  # the tables the batch carries events for
            if tables is None:
                seen = _source_tables(events)
                tables = [t for t in seen if self.infer_unknown_tables
                          or t in self.table_schemas]
            unknown = [t for t in tables if t not in self.table_schemas]
            if unknown:
                # §1.4 mode 2: infer from this batch's payloads — but
                # only for tables the batch actually carries events
                # for. A multi-table consumer passes its FULL table
                # list every micro-batch; a batch that happens to hold
                # no rows for one table must defer that table's
                # inference to its first real events, not lock in an
                # empty schema (r9: the 4-table WAL tier's first
                # 10k-change batch held only table 0's inserts).
                from deltalake_poc_spark.cdc.infer import infer_table_schema

                if seen is None:
                    seen = _source_tables(events)
                for t in unknown:
                    if t in seen:
                        self.table_schemas[t] = infer_table_schema(
                            self.spark, events, t)
            names = sorted(t for t in set(tables) if t in self.table_schemas)
            # tables resolve here, on the calling thread: the table
            # cache (_get_or_create) is not shared with the pool
            tasks = [functools.partial(self.audit_table().append_batch,
                                       events, batch_id)]
            for t in names:
                self.snapshot_table(t)
                tasks.append(functools.partial(self._apply_table, events, t))
            return dict(zip(names, _run_all(self.spark, tasks)[1:]))
        finally:
            if own_persist:
                events.unpersist()

    def rename_column(self, table: str, old: str, new: str):
        """Column-mapping rename on a snapshot table (reference
        README.md:149-162: metadata-only, no parquet rewrite): updates
        the versioned table's schema AND the applier's typing schema so
        subsequent batches (whose after_data now carries the new field
        name, as Debezium emits post-rename) apply under the new name.
        Old versions still time-travel with the old name."""
        if old == self.key_col:
            raise ValueError("cannot rename the merge key column")
        commit = self.snapshot_table(table).rename_column(old, new)
        if table in self.table_schemas:
            sch = self.table_schemas[table]
            self.table_schemas[table] = StructType([
                StructField(new if f.name == old else f.name,
                            f.dataType, f.nullable, f.metadata)
                for f in sch.fields
            ])
        return commit

    def drop_column(self, table: str, name: str):
        """Column-mapping drop on a snapshot table: metadata-only; the
        field leaves the logical schema, physical data stays until
        files rewrite naturally. Future events' values for the column
        are ignored (it is no longer in the typing schema)."""
        if name == self.key_col:
            raise ValueError("cannot drop the merge key column")
        commit = self.snapshot_table(table).drop_column(name)
        if table in self.table_schemas:
            sch = self.table_schemas[table]
            self.table_schemas[table] = StructType(
                [f for f in sch.fields if f.name != name])
        return commit

    def _maybe_evolve_schema(self, events: DataFrame, name: str) -> None:
        """Schema drift mid-stream (SURVEY.md §1.4 mode 3 / §7.6): new
        fields appearing in after_data extend the declared schema and
        the snapshot table (mergeSchema semantics — the reference's
        spark.databricks.delta.schema.autoMerge.enabled=true). Explicit
        renames/drops go through rename_column/drop_column (column
        mapping — metadata-only); implicit drift here is add-only."""
        from deltalake_poc_spark.cdc.infer import infer_table_schema

        current = self.table_schemas[name]
        inferred = infer_table_schema(
            self.spark, events.filter(F.col("source_table") == name), name)
        known = {f.name for f in current.fields}
        new_fields = [f for f in inferred.fields if f.name not in known]
        if not new_fields:
            return
        evolved = StructType(current.fields + new_fields)
        self.table_schemas[name] = evolved
        table = self.snapshot_table(name)
        # schema-only commit: append an empty frame carrying the evolved
        # shape; _merged_schema_json extends the table schema, no data
        table.write(
            self.spark.createDataFrame(
                [], StructType(evolved.fields + list(S.META_FIELDS))),
            "append",
        )

    def _apply_table(self, events: DataFrame, name: str) -> dict:
        if self.evolve_schema and name in self.table_schemas:
            self._maybe_evolve_schema(events, name)
        table_schema = self.table_schemas[name]
        key = self.key_col
        ev = events.filter(F.col("source_table") == name)

        # Key comes from after_data for upserts, before_data for deletes
        # (spark_streaming.py:320-341, 367-383).
        key_type = next(f.dataType for f in table_schema.fields if f.name == key)
        keyed = ev.withColumn(
            "__key",
            F.coalesce(
                F.get_json_object("after_data", f"$.{key}"),
                F.get_json_object("before_data", f"$.{key}"),
            ).cast(key_type),
        ).filter(F.col("__key").isNotNull())  # P5 null-key guard

        # Latest event per key: source_lsn then kafka offset (fixes the
        # reference's duplicate-keys-in-batch hazard, SURVEY.md §7.3).
        # max_by over a (lsn, offset) ordering struct instead of a
        # row_number window: the hash aggregate combines MAP-SIDE, so
        # the shuffle carries one partial row per (key, task) instead
        # of the whole batch, and there is no per-key sort. Struct
        # comparison is lexicographic with NULL smallest, which is
        # exactly desc_nulls_last(lsn) desc(offset) under max.
        latest = (
            keyed.groupBy("__key")
            .agg(F.max_by(
                F.struct(*[c for c in keyed.columns if c != "__key"]),
                F.struct("source_lsn", "offset")).alias("__r"))
            .select("__key", "__r.*")
        )

        # Re-type the JSON payload per the declared table schema (P9);
        # field-level Debezium timestamps are epoch-µs (F5;
        # database.py:20-27, "time.precision.mode": "connect").
        payload_fields = []
        for f in table_schema.fields:
            if isinstance(f.dataType, TimestampType):
                payload_fields.append(S.StructField(f.name, S.LongType()))
            else:
                payload_fields.append(f)
        payload_schema = StructType(payload_fields)
        rec = latest.withColumn(
            "__rec", F.from_json(F.col("after_data"), payload_schema)
        )

        cols = []
        for f in table_schema.fields:
            src = F.col(f"__rec.{f.name}")
            if f.name == key:
                src = F.col("__key")
            elif isinstance(f.dataType, TimestampType):
                src = F.timestamp_micros(src)
            cols.append(src.cast(f.dataType).alias(f.name))
        src_df = rec.select(
            *cols,
            F.col("operation").alias(S.META_OPERATION),
            F.col("event_timestamp").alias(S.META_TIMESTAMP),
            F.current_timestamp().alias(S.META_PROCESSED),
            (F.col("operation") == "d").alias("__is_delete"),
        )

        table = self.snapshot_table(name)
        commit = (
            table.merge(src_df, on=key)
            .when_matched_delete(condition=F.col("s.__is_delete"))
            .when_matched_update_all(condition=~F.col("s.__is_delete"))
            .when_not_matched_insert_all(condition=~F.col("s.__is_delete"))
            .without_source_validation()  # window above guarantees unique keys
            .execute()
        )
        if self.auto_compact_every:
            n = self._merges_since_compact.get(name, 0) + 1
            if n >= self.auto_compact_every:
                table.optimize(target_file_rows=self.target_file_rows,
                               zorder_by=[key])
                n = 0
            self._merges_since_compact[name] = n
        if self.standard_mirror_path:
            from deltalake_poc_spark.tables.deltaexport import (
                export_standard_delta,
            )

            mirror = os.path.join(self.standard_mirror_path, name)
            export_standard_delta(table, mirror, incremental=os.path.isdir(
                os.path.join(mirror, "_delta_log")))
        return commit.metrics


def _run_all(spark: SparkSession, tasks: list) -> list:
    """Run ``tasks`` on one bounded thread pool and return their results
    in order. Each task runs with the caller's Spark local properties
    (job group, description, scheduler pool). Leaving the pool joins
    every thread, so the first error in task order raises only after
    every task has ended."""
    from pyspark import inheritable_thread_target

    workers = min(len(tasks), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(workers, thread_name_prefix="cdc-apply") as pool:
        # one wrap per task: each wrap clones the caller's properties,
        # and threads that shared one clone would overwrite each
        # other's SQL execution ids
        futures = [pool.submit(inheritable_thread_target(spark)(task))
                   for task in tasks]
    return [f.result() for f in futures]


def _source_tables(events: DataFrame) -> list[str]:
    """The tables a batch of parsed events carries events for (one job)."""
    return [r["source_table"] for r in
            events.select("source_table").distinct().collect()]
