"""MERGE (upsert) into a VersionedTable — scale-aware rewrite.

Re-implements the Delta MERGE semantics the reference uses
(J4/J5/M1-M3 in SURVEY.md §2.3/§2.10):

- ``whenMatchedUpdateAll([condition])``   spark_streaming.py:345-359;
  change-detection condition variant spark_delta_handler.py:218-236
- ``whenMatchedDelete([condition])``      replaces the reference's
  collect-ids-then-delete anti-pattern (spark_streaming.py:367-389)
  with a set-based delete clause
- ``whenNotMatchedInsertAll()``

Execution strategy (what Delta does, re-built on plain Spark), shared
by MERGE, DELETE and UPDATE:

1. **Touched-file discovery.** MERGE: each data file carries [min,
   max] stats for the merge key; source keys are range-joined against
   the (tiny, broadcast) file-stats list, and only files that *could*
   contain a source key are touched. At 100 TB with a clustered key
   this is the difference between rewriting GBs and rewriting the
   table. DELETE/UPDATE (table.py): stats prune candidate files for
   the predicate, then a ``__file`` probe keeps the ones with a match.
2. **Classification.** Every touched row is tagged copy/update/delete
   (MERGE: one full-outer join of touched-file rows with the source on
   the key, which also tags inserts). Because pruning guarantees
   untouched files cannot contain source keys, not-matched detection
   only needs the touched rows.
3. **One executor** (``write_classified``) over the operation's one
   pinned snapshot: ONE Spark write stores each row's data image
   (rewriting the touched files copy-on-write, or appending the
   post-images beside a deletion vector) and its CDF change images,
   counts every action with one ``observe()`` and publishes one
   atomic commit with
   Delta-style metrics (numTargetRowsUpdated/Inserted/Deleted/Copied
   for MERGE — the reference reads these from history, notebook cells
   11/22/27; numDeletedRows/numUpdatedRows/numCopiedRows for
   DELETE/UPDATE).

Duplicate source keys raise (same contract as Delta MERGE; the
reference's batches were simply small enough to dodge this —
SURVEY.md §7.3. Dedup upstream, e.g. cdc.apply's latest-event-per-key
window).
"""

from __future__ import annotations

import shutil

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

            evolved_json = t._merged_schema_json(src, snap)
            evolved = StructType.fromJson(_json.loads(evolved_json))
            if len(evolved.fields) != len(schema.fields):
                schema = evolved  # target + new source columns
            else:
                evolved_json = None  # nothing new: plain merge commit

        rel_touched = self._touched_files(snap) if snap.files else []
        # in DV mode touched rows carry (file, position) so matched
        # updates/deletes become vector entries instead of rewrites
        target = t._read_files(rel_touched, snap, schema=schema,
                               with_position=t._dv_enabled(snap))

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
        params = {
            "predicate": " AND ".join(f"t.{k} = s.{k}" for k in keys),
            "matchedUpdateAll": self._update_all,
            "matchedDelete": self._delete,
            "notMatchedInsertAll": self._insert_all,
        }
        # the change actions this classification can tag
        changes = ("U" * self._update_all + "I" * self._insert_all
                   + "D" * self._delete)
        t_cols = [F.col(f"t.{f.name}").alias(f.name) for f in schema.fields]
        return write_classified(
            t, snap, "MERGE", params, joined.withColumn("__action", action),
            changes, schema, t_cols, aligned, rel_touched, evolved_json)


# operation -> {count: commit metric}: Delta's metric names for each
# operation, filled from one set of counts. U/I/D/C are rows by
# action, "out" rows written, "removed"/"added" data files. Names
# only: what an operation writes follows its classification. A no-op
# commit stamps the same names with zeros.
_METRICS = {
    "MERGE": {"U": "numTargetRowsUpdated", "I": "numTargetRowsInserted",
              "D": "numTargetRowsDeleted", "C": "numTargetRowsCopied",
              "out": "numOutputRows", "removed": "numTargetFilesRemoved",
              "added": "numTargetFilesAdded"},
    "DELETE": {"D": "numDeletedRows", "C": "numCopiedRows",
               "removed": "numRemovedFiles", "added": "numAddedFiles"},
    "UPDATE": {"U": "numUpdatedRows", "C": "numCopiedRows",
               "removed": "numRemovedFiles", "added": "numAddedFiles"},
    "OPTIMIZE": {"removed": "numRemovedFiles", "added": "numAddedFiles"},
    "PURGE": {"removed": "numRemovedFiles", "added": "numAddedFiles"},
}


def _image(cols: list[Column], change_type: str | None,
           cdc: bool) -> Column:
    """One image of a classified row. Under CDF it carries
    ``_change_type`` (null on a data image) and the ``__cdc`` flag
    that routes it to a change file."""
    stamp = [F.lit(change_type).cast("string").alias("_change_type"),
             F.lit(change_type is not None).alias("__cdc")]
    return F.struct(*cols, *(stamp if cdc else []))


def write_classified(table, snap, op: str, params: dict,
                     classified: DataFrame, changes: str, schema,
                     pre: list[Column], post: list[Column],
                     touched: list[str],
                     schema_json: str | None = None) -> Commit:
    """The one row-level write behind MERGE, DELETE and UPDATE.

    ``classified`` holds the touched target rows (plus MERGE's source
    rows), each tagged ``__action``: C copy, U update, D delete, I
    insert, X ignore. ``changes`` names the change actions (of U, I,
    D) the classification can tag. ``pre``/``post`` are the pre- and
    post-image columns over it, aligned to ``schema`` (the schema
    being written); in DV mode the frame also carries the target's
    ``__file``/``__pos``. ``touched`` lists the files a copy-on-write
    commit replaces. Everything reads ``snap``, the operation's pinned
    snapshot.

    Each classified row projects, in one pass, into its images:

    - a data image: copy-on-write writes the C rows and the U/I
      post-images, which replace ``touched``; with deletion vectors
      (``enableDeletionVectors``) only the U/I post-images append as
      new files, nothing is rewritten (copies count 0) and the U/D
      rows' positions go into a consolidated sidecar;
    - with ``enableChangeDataFeed``, change images carrying
      ``_change_type``: D and U pre-images, U and I post-images.

    One Spark write stores both (VersionedTable._write_files): data
    files move into data/, change files into the commit's unique
    _changes/ dir. One observe() on it counts U/I/D/C. The DV sidecar
    is the only second reader of ``classified``, which is persisted
    just then; a DV DELETE without CDF writes no data or change file
    and takes its count from the sidecar write's own observe, so no
    job exists just to count. A DV write that changes no row commits a
    no-op. The commit carries dv_updates + add + remove so readers
    flip atomically; staged change files and sidecar are removed if it
    loses a conflict."""
    from pyspark.sql import Observation

    from deltalake_poc_spark.tables.constraints import enforce

    t = table
    dv = t._dv_enabled(snap)
    cdc = t.cdf_enabled(snap) and bool(changes)
    if dv:
        params = {**params, "deletionVectors": True}
    act = F.col("__action")
    # (actions, columns, _change_type) of every image a row can project
    # into; a data image has no change type
    images = [("UI", post, None)] + ([] if dv else [("C", pre, None)])
    if cdc:
        images += [("I", post, "insert"), ("D", pre, "delete"),
                   ("U", pre, "update_preimage"),
                   ("U", post, "update_postimage")]
    images = [i for i in images if set(i[0]) & set(changes + "C")]
    write_dv = dv and bool(set(changes) & {"U", "D"})
    # the DV sidecar is the only second reader: a DV write's rows are a
    # few matches filtered out of whole-file scans, cheaper cached than
    # scanned twice. A frame with one reader never persists: the cache
    # fill is pure overhead there AND freezes a join's partitioning
    # (cached plans skip AQE output coalescing)
    shared = write_dv and bool(images)
    if shared:
        classified = classified.persist()
    mapping = {f.name: t._physical(f) for f in schema.fields}
    staged, dv_rel, dv_files, n_dv, entries = None, None, [], 0, []
    n = dict.fromkeys("UIDC", 0)
    try:
        if images:
            # only this write reads the observed node: its filters
            # and projections sit above it, so it sees every
            # classified row, and no exchange above it can be dropped
            # from the executed plan
            obs = Observation()
            counted = classified.observe(obs, *[
                F.coalesce(F.sum(F.when(act == a, 1)), F.lit(0)).alias(a)
                for a in ("U", "I", "D", "C")])
            # every row kept has an image, so inline_outer emits no
            # null row (and plans no filter re-evaluating the array)
            rows = counted.filter(act.isin(*"".join(
                a for a, _, _ in images))).select(F.inline_outer(
                    F.filter(F.array(*[
                        F.when(act.isin(*a), _image(cols, ct, cdc))
                        for a, cols, ct in images]),
                        lambda image: image.isNotNull())))
            # CHECK/NOT NULL guards ride the same pass (no extra job);
            # rows that violate fail the write. Change rows are data
            # rows or rows the table already holds.
            entries, staged = t._write_files(
                enforce(rows, snap.properties, schema), snap,
                partition_by=t.partition_columns(snap) or None,
                mapping=mapping)
            n = dict(obs.get)
        if write_dv and (not images or n["U"] or n["D"]):
            dv_rel, dv_files, n_dv, n_new = t._dv_sidecar_from(
                classified.filter(act.isin("U", "D")), snap)
            if not images:  # DV DELETE: each new position is a delete
                n["D"] = n_new
        if dv and not (n["U"] or n["I"] or n["D"]):
            for d in (staged, dv_rel):
                if d:
                    shutil.rmtree(t.log.abs_path(d), ignore_errors=True)
            return t._noop_commit(op, params, snap)
    finally:
        if shared:
            classified.unpersist()
    removed = [] if dv else list(touched)
    n.update(C=0 if dv else n["C"], out=sum(e.num_records for e in entries),
             removed=len(removed), added=len(entries))
    metrics = {name: n[k] for k, name in _METRICS[op].items()}
    if dv:
        metrics["numDeletionVectorRows"] = n_dv
    commit = Commit(
        operation=op,
        operation_parameters=params,
        add=entries,
        remove=removed,
        dv_updates={f: dv_rel for f in dv_files},
        schema_json=schema_json,
        metrics=metrics,
        change_dir=staged,
    )
    return t._publish(commit, snap, cleanup_on_fail=tuple(
        x for x in (dv_rel, staged) if x))
