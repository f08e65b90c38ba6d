"""MERGE (upsert) into a VersionedTable — scale-aware rewrite.

Re-implements the Delta MERGE semantics the reference uses
(J4/J5/M1-M3 in SURVEY.md §2.3/§2.10):

- ``whenMatchedUpdateAll([condition])``   spark_streaming.py:345-359;
  change-detection condition variant spark_delta_handler.py:218-236
- ``whenMatchedDelete([condition])``      replaces the reference's
  collect-ids-then-delete anti-pattern (spark_streaming.py:367-389)
  with a set-based delete clause
- ``whenNotMatchedInsertAll()``

Execution strategy (what Delta does, re-built on plain Spark):

1. **File pruning.** Each data file carries [min, max] stats for the
   merge key. Source keys are range-joined against the (tiny,
   broadcast) file-stats list; only files that *could* contain a
   source key are rewritten. At 100 TB with a clustered key this is
   the difference between rewriting GBs and rewriting the table.
2. **Single full-outer join** of touched-file rows with the source on
   the key; each output row is classified copy/update/delete/insert.
   Because pruning guarantees un-touched files cannot contain source
   keys, not-matched detection only needs the touched rows.
3. New files written distributed; one atomic log commit swaps
   touched files for rewritten ones and records Delta-style metrics
   (numTargetRowsUpdated/Inserted/Deleted/Copied — the reference
   reads these from history, notebook cells 11/22/27).

Duplicate source keys raise (same contract as Delta MERGE; the
reference's batches were simply small enough to dodge this —
SURVEY.md §7.3. Dedup upstream, e.g. cdc.apply's latest-event-per-key
window).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deltalake_poc_spark.tables.log import Commit


def change_detection_condition(columns: list[str],
                               key: str | list[str] = "id") -> str:
    """M2 — the reference's update-only-when-changed MERGE condition
    (spark_delta_handler.py:218-236 builds a per-column !=-with-null
    OR chain as SQL text). Null-safe form: update when NOT every
    non-key column is <=> equal. Prevents no-op updates from
    rewriting files (MERGE write amplification, SURVEY.md §4)."""
    keys = {key} if isinstance(key, str) else set(key)
    comparisons = [f"t.{c} <=> s.{c}" for c in columns if c not in keys]
    if not comparisons:
        return "true"
    return "NOT (" + " AND ".join(comparisons) + ")"


class MergeBuilder:
    def __init__(self, table, source: DataFrame, on: str | list[str]):
        """``on`` is the equi-join key: one column name (the reference
        always merges on ``id``: predicate "target.id = source.id") or
        a list of columns for composite keys (predicate is the
        conjunction of per-column equalities). Merge key values must be
        non-null — the null-key guard upstream (P5) is part of the CDC
        contract."""
        self.table = table
        self.source = source
        self.keys: list[str] = [on] if isinstance(on, str) else list(on)
        if not self.keys:
            raise ValueError("merge needs at least one key column")
        self._update_all = False
        self._update_cond: Column | None = None
        self._delete = False
        self._delete_cond: Column | None = None
        self._insert_all = False
        self._insert_cond: Column | None = None
        self._validate_unique = True
        self._evolve = False

    def when_matched_update_all(self, condition: str | Column | None = None):
        self._update_all = True
        self._update_cond = F.expr(condition) if isinstance(condition, str) else condition
        return self

    def when_matched_delete(self, condition: str | Column | None = None):
        self._delete = True
        self._delete_cond = F.expr(condition) if isinstance(condition, str) else condition
        return self

    def when_not_matched_insert_all(self, condition: str | Column | None = None):
        self._insert_all = True
        self._insert_cond = F.expr(condition) if isinstance(condition, str) else condition
        return self

    def with_schema_evolution(self):
        """Delta's schema.autoMerge for MERGE: source columns absent
        from the target extend the target schema in this commit
        (stamped with fresh physical names under column mapping);
        pre-existing rows read the new columns as null."""
        self._evolve = True
        return self

    def without_source_validation(self):
        """Skip the duplicate-source-key check (one extra agg job)."""
        self._validate_unique = False
        return self

    # ------------------------------------------------------------------ run

    def _touched_files(self, snap) -> list[str]:
        """Prune candidate files with per-file [min,max] key stats.
        Returns relative paths of files that may contain source keys.
        Composite keys prune on the conjunction of per-column ranges —
        a file is a candidate only if EVERY stats-bearing key column's
        range admits the source tuple (files missing stats for any key
        column are always rewritten candidates)."""
        entries = snap.files
        with_stats = [e for e in entries
                      if all(k in e.stats for k in self.keys)]
        without = [e for e in entries
                   if not all(k in e.stats for k in self.keys)]
        if not with_stats:
            return [e.path for e in entries]
        cols = ["__path"]
        for i in range(len(self.keys)):
            cols += [f"__kmin{i}", f"__kmax{i}"]
        ranges = self.table.spark.createDataFrame(
            [tuple([e.path] + [b for k in self.keys
                               for b in (e.stats[k][0], e.stats[k][1])])
             for e in with_stats],
            cols,
        )
        src_keys = self.source.select(
            *[F.col(k).alias(f"__k{i}")
              for i, k in enumerate(self.keys)]).distinct()
        cond = F.lit(True)
        for i in range(len(self.keys)):
            cond = cond & (F.col(f"__k{i}") >= F.col(f"__kmin{i}")) \
                & (F.col(f"__k{i}") <= F.col(f"__kmax{i}"))
        hit = (
            src_keys.join(F.broadcast(ranges), cond)
            .select("__path").distinct().collect()
        )
        return [r["__path"] for r in hit] + [e.path for e in without]

    def execute(self) -> Commit:
        t = self.table
        snap = t.snapshot()
        schema = t.schema(snap)
        if schema is None:
            raise ValueError("merge target has no schema")
        keys = self.keys

        if self._validate_unique:
            dup = (self.source.groupBy(*keys).agg(F.count(F.lit(1)).alias("c"))
                   .filter(F.col("c") > 1).limit(1).collect())
            if dup:
                vals = {k: dup[0][k] for k in keys}
                raise ValueError(
                    f"MERGE source has duplicate keys (e.g. {vals});"
                    " dedup first (cdc.apply does this)"
                )

        from deltalake_poc_spark.tables.constraints import apply_generated

        # generated columns absent from the source compute here (over
        # source columns, pre-join — Delta computes them for MERGE
        # inserts the same way)
        src = apply_generated(self.source, schema)

        evolved_json = None
        if self._evolve:
            import json as _json

            from pyspark.sql.types import StructType

            evolved_json = t._merged_schema_json(src)
            evolved = StructType.fromJson(_json.loads(evolved_json))
            if len(evolved.fields) != len(schema.fields):
                schema = evolved  # target + new source columns
            else:
                evolved_json = None  # nothing new: plain merge commit

        rel_touched = self._touched_files(snap) if snap.files else []
        dv_mode = str(snap.properties.get(
            "enableDeletionVectors", "false")).lower() == "true"
        if dv_mode:
            # merge-on-read: touched rows carry (file, position) so
            # matched updates/deletes become vector entries instead of
            # file rewrites (Delta's DV-enabled MERGE)
            target = t._read_files(rel_touched, snap, with_position=True)
        else:
            target = t._plain_read(rel_touched, schema, dvs=snap.dvs) \
                if rel_touched else t.spark.createDataFrame([], schema)

        # align source to target schema (missing cols -> null)
        src_cols = {f.name for f in src.schema.fields}
        aligned = [
            (F.col(f"s.{f.name}") if f.name in src_cols else F.lit(None))
            .cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]

        jc = F.lit(True)
        for k in keys:
            jc = jc & (F.col(f"t.{k}") == F.col(f"s.{k}"))
        joined = target.alias("t").join(src.alias("s"), jc, "full_outer")

        def _present(side):
            c = F.lit(True)
            for k in keys:
                c = c & F.col(f"{side}.{k}").isNotNull()
            return c

        matched = _present("t") & _present("s")
        t_only = _present("t") & ~_present("s")
        s_only = ~_present("t") & _present("s")

        true_ = F.lit(True)
        del_cond = matched & (self._delete_cond if self._delete_cond is not None
                              else true_) if self._delete else F.lit(False)
        upd_cond = matched & (self._update_cond if self._update_cond is not None
                              else true_) if self._update_all else F.lit(False)

        ins_cond = (s_only & (self._insert_cond if self._insert_cond is not None
                              else true_)) if self._insert_all else F.lit(False)
        action = (
            F.when(del_cond, F.lit("D"))
            .when(upd_cond, F.lit("U"))
            .when(matched, F.lit("C"))
            .when(t_only, F.lit("C"))
            .when(ins_cond, F.lit("I"))
            .otherwise(F.lit("X"))  # source-only rows not inserted
        )
        classified = joined.withColumn("__action", action)
        if dv_mode:
            t_cols = [F.col(f"t.{f.name}").alias(f.name)
                      for f in schema.fields]
            return self._finish_dv(snap, schema, classified, aligned,
                                   t_cols, rel_touched, evolved_json)
        # persist only when the CDF path will stream the frame twice
        # (change-file write + materialize); in the single-consumer
        # case the cache fill is pure overhead AND freezes the join's
        # partitioning (cached plans skip AQE output coalescing unless
        # canChangeCachedPlanOutputPartitioning is on), which turned a
        # 172-row merge output into 32 near-empty files
        cdf = t.cdf_enabled(snap)
        if cdf:
            classified = classified.persist()
        else:
            from pyspark.sql import Observation

            # metrics ride on the materialize pass via observe() — a
            # separate groupBy-collect job was a full extra pass over
            # the joined frame (r1: ~2s of the CDC pipeline's fixed
            # cost). Only safe when exactly ONE action consumes the
            # observed plan: an Observation whose node is executed by
            # a second action (the CDF persist pattern: change-file
            # write + materialize) leaks one ExecutionListenerBus per
            # merge on the listener bus — unbounded growth at one
            # merge per micro-batch. On the cached path the counts
            # ride the change-file write instead (below).
            obs = Observation()
            classified = classified.observe(
                obs,
                *[
                    F.coalesce(
                        F.sum(F.when(F.col("__action") == a, 1)), F.lit(0)
                    ).alias(a)
                    for a in ("U", "I", "D", "C")
                ],
            )
        try:
            t_cols = [F.col(f"t.{f.name}").alias(f.name) for f in schema.fields]
            result = classified.filter(F.col("__action").isin("C", "U", "I")).select(
                *[
                    F.when(F.col("__action").isin("U", "I"), a)
                    .otherwise(tc)
                    .alias(f.name)
                    for a, tc, f in zip(aligned, t_cols, schema.fields)
                ]
            )
            from deltalake_poc_spark.tables.constraints import enforce

            # CHECK/NOT NULL guards ride the materialize pass (no extra
            # job); post-image rows that violate fail the merge
            result = enforce(result, snap.properties, schema)

            staged_changes = None
            if cdf:
                # U/I/D ride the change-file write via observe() (the
                # write is the changes frame's only action); C falls
                # out of the materialize's numOutputRows below
                from pyspark.sql import Observation

                ch_obs = Observation()
                changes = self._change_rows(classified, schema, aligned,
                                            t_cols).observe(
                    ch_obs,
                    *[F.coalesce(
                        F.sum(F.when(F.col("_change_type") == ct, 1)),
                        F.lit(0)).alias(a)
                      for a, ct in (("U", "update_preimage"),
                                    ("I", "insert"),
                                    ("D", "delete"))])
                staged_changes = t._stage_changes(changes)

            entries = t._materialize(
                result, stats_cols=None,
                partition_by=t.partition_columns(snap) or None,
                mapping=({f.name: t._physical(f) for f in schema.fields}
                         if evolved_json else None))
            n_out = sum(e.num_records for e in entries)
            if cdf:
                # the change write counted U/I/D; the materialized row
                # count C+U+I closes the system
                counts = dict(ch_obs.get)
                counts["C"] = n_out - counts["U"] - counts["I"]
            else:
                # single-action path: the materialize streamed every
                # row through the observe node exactly once
                counts = obs.get
            commit = Commit(
                version=snap.version + 1,
                timestamp=t.log.monotonic_now_ms(),
                operation="MERGE",
                operation_parameters={
                    "predicate": " AND ".join(
                        f"t.{k} = s.{k}" for k in keys),
                    "matchedUpdateAll": self._update_all,
                    "matchedDelete": self._delete,
                    "notMatchedInsertAll": self._insert_all,
                },
                add=entries,
                remove=rel_touched,
                schema_json=evolved_json,
                metrics={
                    "numTargetRowsUpdated": counts.get("U", 0),
                    "numTargetRowsInserted": counts.get("I", 0),
                    "numTargetRowsDeleted": counts.get("D", 0),
                    "numTargetRowsCopied": counts.get("C", 0),
                    "numOutputRows": n_out,
                    "numTargetFilesRemoved": len(rel_touched),
                    "numTargetFilesAdded": len(entries),
                },
                change_dir=staged_changes,
            )
            return t._publish(
                commit, snap,
                cleanup_on_fail=(staged_changes,) if staged_changes else ())
        finally:
            if cdf:
                classified.unpersist()

    def _finish_dv(self, snap, schema, classified, aligned, t_cols,
                   rel_touched, evolved_json) -> Commit:
        """Merge-on-read commit: matched updates/deletes go into a
        consolidated deletion-vector sidecar addressing the TOUCHED
        files' row positions; update post-images and inserts append as
        new files; copy rows are never rewritten — a sparse CDC upsert
        against big files costs a tiny sidecar plus the changed rows,
        zero copy amplification (numTargetRowsCopied is structurally
        0, like Delta's DV MERGE). One commit carries dv_updates + add
        so readers flip atomically."""
        t = self.table
        from deltalake_poc_spark.tables.constraints import enforce
        from deltalake_poc_spark.tables.log import Commit

        classified = classified.persist()
        try:
            counts = {
                r["__action"]: r["cnt"]
                for r in classified.groupBy("__action")
                .agg(F.count(F.lit(1)).alias("cnt")).collect()
            }
            n_upd = counts.get("U", 0)
            n_ins = counts.get("I", 0)
            n_del = counts.get("D", 0)
            if n_upd + n_ins + n_del == 0:
                return t._noop_commit("MERGE", {
                    "predicate": " AND ".join(
                        f"t.{k} = s.{k}" for k in self.keys)})
            new_rows = enforce(
                classified.filter(F.col("__action").isin("U", "I"))
                .select(*aligned),
                snap.properties, schema)
            staged_changes = None
            if t.cdf_enabled(snap):
                staged_changes = t._stage_changes(self._change_rows(
                    classified, schema, aligned, t_cols))
            dv_rel, dv_files, n_total = None, [], 0
            if n_upd + n_del > 0:
                dv_matches = classified.filter(
                    F.col("__action").isin("U", "D")).select(
                        F.col("t.__file").alias("__file"),
                        F.col("t.__pos").alias("__pos"))
                dv_rel, dv_files, n_total, _prior = t._dv_sidecar_from(
                    dv_matches, snap)
            entries = t._materialize(
                new_rows, stats_cols=None,
                partition_by=t.partition_columns(snap) or None,
                mapping=({f.name: t._physical(f) for f in schema.fields}
                         if evolved_json else None)) \
                if n_upd + n_ins > 0 else []
            commit = Commit(
                version=snap.version + 1,
                timestamp=t.log.monotonic_now_ms(),
                operation="MERGE",
                operation_parameters={
                    "predicate": " AND ".join(
                        f"t.{k} = s.{k}" for k in self.keys),
                    "matchedUpdateAll": self._update_all,
                    "matchedDelete": self._delete,
                    "notMatchedInsertAll": self._insert_all,
                    "deletionVectors": True,
                },
                add=entries,
                dv_updates={f: dv_rel for f in dv_files},
                schema_json=evolved_json,
                metrics={
                    "numTargetRowsUpdated": n_upd,
                    "numTargetRowsInserted": n_ins,
                    "numTargetRowsDeleted": n_del,
                    "numTargetRowsCopied": 0,
                    "numOutputRows": sum(e.num_records for e in entries),
                    "numTargetFilesRemoved": 0,
                    "numTargetFilesAdded": len(entries),
                    "numDeletionVectorRows": n_total,
                },
                change_dir=staged_changes,
            )
            cleanup = tuple(x for x in (dv_rel, staged_changes) if x)
            return t._publish(commit, snap, cleanup_on_fail=cleanup)
        finally:
            classified.unpersist()

    def _change_rows(self, classified, schema, aligned, t_cols):
        """CDF rows for this merge: insert / delete / update_pre+postimage."""
        parts = []
        ins = classified.filter(F.col("__action") == "I").select(*aligned)
        parts.append(ins.withColumn("_change_type", F.lit("insert")))
        dele = classified.filter(F.col("__action") == "D").select(*t_cols)
        parts.append(dele.withColumn("_change_type", F.lit("delete")))
        pre = classified.filter(F.col("__action") == "U").select(*t_cols)
        parts.append(pre.withColumn("_change_type", F.lit("update_preimage")))
        post = classified.filter(F.col("__action") == "U").select(*aligned)
        parts.append(post.withColumn("_change_type", F.lit("update_postimage")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
