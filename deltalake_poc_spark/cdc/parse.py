"""Debezium envelope parse — Kafka bytes → flat typed events frame.

Re-implements the reference's ``parse_debezium_cdc``
(consumer/spark-streaming/spark_streaming.py:201-265) as one
declarative projection (P1-P2, F1-F7, F13 in SURVEY.md §2): every
expression is a built-in Spark function, so the whole parse stays
inside WholeStageCodegen — no Python UDFs on the hot path.

Input contract (what ``spark.readStream.format("kafka")`` produces):
    key binary, value binary, topic string, partition int, offset long
Output: CDC_EVENTS_SCHEMA columns (audit-table shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deltalake_poc_spark.cdc.schema import MESSAGE_TYPED_SCHEMA


def parse_debezium(raw: DataFrame) -> DataFrame:
    """Parse raw Kafka CDC messages into the flat audit-event shape.

    - tombstones (null value / null payload) are dropped (P2;
      spark_streaming.py:245, consumer.py:152-162)
    - ``before``/``after`` stay raw JSON strings (P9 re-types them
      per-table at apply time)
    - envelope ts_ms is **milliseconds** → timestamp (F4;
      spark_streaming.py:233); field-level µs conversion happens at
      apply time (F5)
    - event_id = "{topic}-{partition}-{offset}" (delta_handler.py:87)
    """
    value_str = F.col("value").cast("string")
    # explode-of-1-element-array = a Generate barrier around the
    # from_json: predicate pushdown substitutes expressions through
    # plain Projects (unlike CollapseProject it has no cheapness
    # guard), so the tombstone filter below re-evaluated the WHOLE
    # envelope parse per condition — from_json appeared 3x per row in
    # the physical plan. Filters referencing the generated _msg column
    # cannot sink below the Generate, so the parse runs exactly once.
    # (explode of a 1-element array never drops rows: from_json(null)
    # yields one null element, keeping tombstone semantics identical.)
    parsed = (
        raw.select(
            "*",
            F.explode(F.array(F.from_json(value_str, MESSAGE_TYPED_SCHEMA)))
            .alias("_msg"))
        .withColumn("_payload", F.col("_msg.payload"))
        .filter(F.col("value").isNotNull() & F.col("_payload").isNotNull()
                & F.col("_payload.op").isNotNull())
    )
    return parsed.select(
        F.concat_ws(
            "-", F.col("topic"), F.col("partition").cast("string"),
            F.col("offset").cast("string"),
        ).alias("event_id"),
        F.col("topic"),
        F.col("partition").cast("int").alias("partition_id"),
        F.col("offset").cast("long").alias("offset"),
        F.col("_payload.op").alias("operation"),
        F.when(F.col("_payload.op") == "c", "INSERT")
        .when(F.col("_payload.op") == "u", "UPDATE")
        .when(F.col("_payload.op") == "d", "DELETE")
        .when(F.col("_payload.op") == "r", "SNAPSHOT")
        .otherwise("UNKNOWN")
        .alias("operation_name"),
        F.col("_payload.source.db").alias("source_db"),
        F.col("_payload.source.schema").alias("source_schema"),
        F.col("_payload.source.table").alias("source_table"),
        F.concat_ws(
            ".", F.col("_payload.source.schema"), F.col("_payload.source.table")
        ).alias("table_name"),
        # raw JSON subtrees from the SAME from_json pass (string-typed
        # fields capture the re-serialized object; a get_json_object
        # here would re-parse the whole message text per column)
        F.col("_payload.before").alias("before_data"),
        F.col("_payload.after").alias("after_data"),
        F.timestamp_millis(F.col("_payload.ts_ms")).alias("event_timestamp"),
        F.col("_payload.source.lsn").alias("source_lsn"),
        F.col("_payload.source.txId").alias("source_txid"),
        # transaction block (CDCEvent.transaction, shared/models.py:42-88);
        # null for connectors without provide.transaction.metadata
        F.col("_payload.transaction.id").alias("txn_id"),
        F.col("_payload.transaction.total_order").alias("txn_total_order"),
        F.col("_payload.transaction.data_collection_order")
        .alias("txn_collection_order"),
        F.current_timestamp().alias("processed_at"),
    )


def split_malformed(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split: rows whose value is non-null but fails to
    parse as a Debezium envelope (malformed JSON, missing payload.op)
    are routed to an errors frame instead of being silently dropped.
    The reference logs-and-skips per message (consumer.py:139-209);
    at scale a DLQ table is the operable version of that.

    Returns (well_formed_raw, errors) — feed the first to
    ``parse_debezium``; the second carries the original message +
    error tag for an errors table.
    """
    tagged = raw.select(
        "*",
        # Generate barrier: same single-parse guarantee as
        # parse_debezium — both filters below test the generated
        # column instead of re-running from_json per condition
        F.explode(F.array(
            F.from_json(F.col("value").cast("string"),
                        MESSAGE_TYPED_SCHEMA)["payload"]["op"]))
        .alias("_op_probe"),
    )
    ok = tagged.filter(
        F.col("value").isNull() | F.col("_op_probe").isNotNull()
    ).drop("_op_probe")  # tombstones (null value) stay on the ok path
    errors = tagged.filter(
        F.col("value").isNotNull() & F.col("_op_probe").isNull()
    ).select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        "topic",
        F.col("partition").cast("int").alias("partition_id"),
        F.col("offset").cast("long").alias("offset"),
        F.lit("unparseable_envelope").alias("error"),
        F.current_timestamp().alias("failed_at"),
    )
    return ok, errors
