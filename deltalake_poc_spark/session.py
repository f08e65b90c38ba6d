"""SparkSession factory.

Mirrors the reference's session bootstrap
(``consumer/spark-streaming/spark_streaming.py:159-184`` and notebook
cell 60 S3A config) but tuned for a large cluster: AQE on (runtime
re-planning, skew-join handling, partition coalescing), Arrow on
(vectorized Python interchange), sane shuffle sizing.

All settings are plain public Spark configuration; nothing here
requires packages beyond pyspark itself.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class EngineConfig:
    """Engine configuration (the reference keeps this in
    ``shared/config.py``; env-var driven the same way)."""

    app_name: str = "deltalake-poc-spark"
    master: str = field(
        default_factory=lambda: os.environ.get(
            "SPARK_GRAFT_MASTER",
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]",
        )
    )
    shuffle_partitions: int = field(
        default_factory=lambda: int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    )
    # ~128 MB input splits: good default for 100 TB scans (reference
    # never tuned this; POC-only spark-defaults.conf:9-10).
    max_partition_bytes: str = "134217728"
    extra_conf: dict[str, str] = field(default_factory=dict)

    def s3a(self, endpoint: str, access_key: str, secret_key: str,
            path_style: bool = True, ssl: bool = False) -> "EngineConfig":
        """Add S3/MinIO filesystem config (reference notebook cell 60)."""
        self.extra_conf.update({
            "spark.hadoop.fs.s3a.endpoint": endpoint,
            "spark.hadoop.fs.s3a.access.key": access_key,
            "spark.hadoop.fs.s3a.secret.key": secret_key,
            "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
            "spark.hadoop.fs.s3a.connection.ssl.enabled": str(ssl).lower(),
        })
        return self


def get_spark(config: EngineConfig | None = None) -> SparkSession:
    """Build (or get) the engine SparkSession."""
    cfg = config or EngineConfig()
    builder = (
        SparkSession.builder.appName(cfg.app_name)
        .master(cfg.master)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", cfg.max_partition_bytes)
        # AQE: runtime shuffle-partition coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-partition cached plans too: a deletion-vector
        # MERGE/UPDATE/DELETE persists its classified rows for its image
        # write and its sidecar (the CDC applier persists each batch's
        # events), and without this the cache freezes the pre-coalesce
        # shuffle partitioning — small outputs then land as
        # shuffle_partitions near-empty files
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # Arrow for any pandas interchange (vectorized UDF path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Timestamps: the reference standardizes on UTC-naive handling
        # (SURVEY.md §7.2); session TZ pinned so results are stable.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in cfg.extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
