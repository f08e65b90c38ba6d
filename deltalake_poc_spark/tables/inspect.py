"""Snapshot/CDF inspection helpers — the notebook's analysis patterns
as library functions (SURVEY.md §2.6 O3, §2.7 U3, §2.1 S8)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deltalake_poc_spark.tables.log import TableLog
from deltalake_poc_spark.tables.table import VersionedTable


def version_diff(table: VersionedTable, v_new: int, v_old: int,
                 key: str) -> DataFrame:
    """Keys added between two versions (notebook cell 53's pandas set
    difference, distributed: EXCEPT over time-travel reads). U3."""
    new_keys = table.read(version=v_new).select(key).distinct()
    old_keys = table.read(version=v_old).select(key).distinct()
    return new_keys.exceptAll(old_keys)


def version_row_counts(table: VersionedTable) -> DataFrame:
    """Row count per version (notebook cells 12/14's version-over-version
    comparison). Computed from log metadata — no data scan: one pass
    over the commits keeps the active files, so a removed file's count
    comes from the entry that added it."""
    rows, total, active = [], 0, {}
    for c in table.log.commits():
        total += sum(e.num_records for e in c.add) - sum(
            active[p].num_records for p in c.remove if p in active)
        TableLog.apply(c, active, {})
        rows.append((c.version, c.operation, total))
    return table.spark.createDataFrame(
        rows, "version long, operation string, num_rows long")


def change_timeline(table: VersionedTable, key: str, key_value) -> DataFrame:
    """Full change history of one key, ordered by commit version
    (notebook cells 25-26: CDF filtered to an id, ordered by
    _commit_version). S8 + O3 + P6."""
    cdf = table.read_change_feed(starting_version=0)
    return (
        cdf.filter(F.col(key) == key_value)
        .orderBy("_commit_version", "_change_type")
    )
