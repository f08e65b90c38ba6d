"""Z-order OPTIMIZE: per-file stats must become selective on EVERY
clustered column (range-partitioning only helps the leading one)."""

from __future__ import annotations

from pyspark.sql import functions as F

from deltalake_poc_spark.tables import VersionedTable


def _stat_coverage(entries, col, full_span):
    """Mean fraction of the column's full range covered per file."""
    spans = []
    for e in entries:
        if col in e.stats:
            lo, hi = e.stats[col]
            spans.append((hi - lo) / full_span)
    assert spans, f"no stats for {col}"
    return sum(spans) / len(spans)


def test_zorder_tightens_stats_on_both_columns(spark, tmp_path):
    n = 40_000
    side = 200  # x,y grid coordinates 0..199
    df = spark.range(n).select(
        (F.col("id") % side).alias("x"),
        (F.col("id") / side).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    schema = df.schema
    t = VersionedTable.create(spark, str(tmp_path / "z"), schema)
    t.write(df.repartition(16))

    # random layout: every file spans nearly the full range of both cols
    before = t.snapshot().files
    assert _stat_coverage(before, "x", side - 1) > 0.9
    assert _stat_coverage(before, "y", side - 1) > 0.9

    t.optimize(target_file_rows=n // 16, zorder_by=["x", "y"])
    after = t.snapshot().files
    assert len(after) >= 8
    # z-ordered: each file covers a compact rectangle — substantially
    # tighter stats on BOTH dimensions
    cov_x = _stat_coverage(after, "x", side - 1)
    cov_y = _stat_coverage(after, "y", side - 1)
    assert cov_x < 0.5, cov_x
    assert cov_y < 0.5, cov_y
    # content unchanged
    assert t.read().count() == n
    assert t.read().agg(F.sum("payload")).collect()[0][0] == n * (n - 1) // 2


def test_zorder_non_numeric_falls_back(spark, tmp_path):
    df = spark.range(1000).select(
        (F.col("id") % 26).cast("int").alias("k"),
        F.concat(F.lit("s"), (F.col("id") % 26)).alias("s"),
        F.col("id").alias("v"))
    t = VersionedTable.create(spark, str(tmp_path / "z2"), df.schema)
    t.write(df.repartition(4))
    t.optimize(target_file_rows=250, zorder_by=["s", "k"])  # string key
    assert t.read().count() == 1000
