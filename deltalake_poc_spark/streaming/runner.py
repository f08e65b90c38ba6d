"""Structured Streaming runtime for the CDC engine.

Re-implements the reference's streaming job
(consumer/spark-streaming/spark_streaming.py:417-474) Spark-first:

- Kafka source with the reference's exact options (T1/T2/T6:
  maxOffsetsPerTrigger=10000, failOnDataLoss=false, startingOffsets;
  spark_streaming.py:187-198)
- a file source with the same message shape, so the full pipeline runs
  (and is tested) without Kafka brokers
- ONE checkpointed foreachBatch per pipeline that applies the whole
  batch — audit append + all table merges — via cdc.CDCApplier (T3/T4).
  The reference fans out 5 concurrent queries (1 append + 4 merge,
  spark_streaming.py:454-463), which re-reads Kafka 5x and gives 5
  independent commit points; one foreachBatch is strictly less work
  and keeps the audit/snapshot tables in per-batch lockstep. Inside
  it, ``apply_batch`` still runs the audit append and the table
  MERGEs concurrently, on one bounded thread pool over the batch's
  one cached frame, so the reference's parallelism is kept without
  its extra reads.
- graceful stop (T9; spark_streaming.py:429-444)

Exactly-once: Spark's checkpoint gives at-least-once delivery into
``process_batch``; CDCApplier's MERGE is idempotent per key+lsn, so
replays converge (same contract the reference relies on,
docs/technical-docs.md:550-589). The audit append is exactly-once too:
each micro-batch is applied as batch id ``<query_name>-<batch_id>``,
which ``VersionedTable.append_batch`` stamps into the append commit and
a replay of the same id skips. The dead-letter errors append is a plain
append, so a replayed batch re-appends its malformed rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from deltalake_poc_spark.cdc.apply import CDCApplier
from deltalake_poc_spark.cdc.parse import parse_debezium, split_malformed

RAW_MESSAGE_DDL = "key string, value string, topic string, partition int, offset long"


class CDCStreamRunner:
    def __init__(
        self,
        spark: SparkSession,
        applier: CDCApplier,
        checkpoint_dir: str,
        trigger_seconds: int = 10,
        on_batch: Callable[[int, dict], None] | None = None,
        dead_letter: bool = False,
    ):
        self.spark = spark
        self.applier = applier
        self.checkpoint_dir = checkpoint_dir
        self.trigger_seconds = trigger_seconds
        self.on_batch = on_batch
        self.dead_letter = dead_letter
        self._queries: list[StreamingQuery] = []
        self._mvs: list[tuple] = []

    def attach_mv(self, mv, base_tables: list[str]) -> None:
        """Refresh a MaterializedView from the named snapshot tables
        after every applied micro-batch (T7: per-trigger MV freshness,
        the foreachBatch equivalent of RisingWave's incremental MVs)."""
        self._mvs.append((mv, base_tables))

    # ------------------------------------------------------------- sources

    def kafka_source(
        self,
        bootstrap_servers: str,
        topics: list[str],
        starting_offsets: str = "earliest",
        max_offsets_per_trigger: int = 10_000,
    ) -> DataFrame:
        """T1/T2/T6 — mirrors spark_streaming.py:187-198 option-for-option.
        Returns the raw stream in RAW_MESSAGE_DDL shape."""
        from pyspark.sql import functions as F

        raw = (
            self.spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", ",".join(topics))
            .option("startingOffsets", starting_offsets)
            .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
            .option("failOnDataLoss", "false")
            .load()
        )
        return raw.select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
            "topic", "partition", "offset",
        )

    def file_source(self, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
        """Kafka-free source: JSON-lines files of RAW_MESSAGE_DDL rows.
        Same downstream pipeline; used by tests and local golden runs
        (replaces the reference's test-cdc.sh Postgres round trip)."""
        reader = self.spark.readStream.schema(RAW_MESSAGE_DDL)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return reader.json(path)

    # -------------------------------------------------------------- pipeline

    def start(self, raw: DataFrame, available_now: bool = False,
              query_name: str = "cdc-apply") -> StreamingQuery:
        """Parse + apply per micro-batch, checkpointed (T3/T4)."""

        def process_batch(batch_df: DataFrame, batch_id: int) -> None:
            if self.dead_letter:
                batch_df, errors = split_malformed(batch_df)
                errors = errors.persist()
                if errors.count() > 0:
                    self.applier.errors_table().write(errors, "append")
                errors.unpersist()
            events = parse_debezium(batch_df)
            metrics = self.applier.apply_batch(
                events, batch_id=f"{query_name}-{batch_id}")
            for mv, base_tables in self._mvs:
                mv.refresh(*[self.applier.snapshot_table(t).read()
                             for t in base_tables])
            if self.on_batch is not None:
                self.on_batch(batch_id, metrics)

        writer = (
            raw.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", f"{self.checkpoint_dir}/{query_name}")
            .queryName(query_name)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{self.trigger_seconds} seconds")
        q = writer.start()
        self._queries.append(q)
        return q

    # ------------------------------------------------------------ lifecycle

    def await_any(self, timeout: float | None = None) -> None:
        self.spark.streams.awaitAnyTermination(timeout)

    def stop_all(self) -> None:
        """T9 — graceful stop of every query this runner started
        (spark_streaming.py:429-444's signal handler loop)."""
        for q in self._queries:
            if q.isActive:
                q.stop()
        for q in self._queries:
            q.awaitTermination(30)
        self._queries.clear()
