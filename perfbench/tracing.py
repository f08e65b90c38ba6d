"""The span wrappers a traced run installs on the engine's public
methods, and the counts each records from the call's result."""

from __future__ import annotations

import os

from perfbench.trace import Tracer


def install(tracer: Tracer) -> None:
    from deltalake_poc_spark.cdc.apply import CDCApplier
    from deltalake_poc_spark.tables.log import TableLog
    from deltalake_poc_spark.tables.merge import MergeBuilder
    from deltalake_poc_spark.tables.table import VersionedTable

    tracer.wrap(CDCApplier, "apply_batch", "cdc.apply")
    tracer.wrap(MergeBuilder, "execute", "tables.merge", _merge_counts)
    tracer.wrap(VersionedTable, "write", "tables.write", _write_counts)
    tracer.wrap(VersionedTable, "optimize", "tables.optimize")
    tracer.wrap(VersionedTable, "read", "tables.read", _read_counts)
    tracer.wrap(VersionedTable, "read_change_feed", "tables.cdf")
    tracer.wrap(TableLog, "write_commit", "tables.log.write_commit")
    tracer.wrap(TableLog, "snapshot", "tables.log.snapshot")
    tracer.wrap(TableLog, "write_checkpoint", "tables.log.checkpoint")


def _merge_counts(commit, args, kwargs) -> dict:
    m = commit.metrics
    before = args[0].table.log.snapshot(commit.version - 1)
    return {
        "files_removed": m.get("numTargetFilesRemoved", 0),
        "files_before": len(before.files),
        "rows_copied": m.get("numTargetRowsCopied", 0),
        "rows_changed": (m.get("numTargetRowsUpdated", 0)
                         + m.get("numTargetRowsInserted", 0)
                         + m.get("numTargetRowsDeleted", 0)),
    }


def _write_counts(commit, args, kwargs) -> dict:
    table = args[0]
    return {"files": len(commit.add),
            "bytes": sum(os.path.getsize(table.log.abs_path(f.path))
                         for f in commit.add)}


def _read_counts(df, args, kwargs) -> dict:
    table = args[0]
    version = kwargs.get("version", args[1] if len(args) > 1 else None)
    ts = kwargs.get("timestamp_ms", args[2] if len(args) > 2 else None)
    snap = table.log.snapshot(version, ts)
    return {"files_total": len(snap.files),
            "files_scanned": len(df.inputFiles())}
