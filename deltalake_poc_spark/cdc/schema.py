"""Debezium CDC envelope + domain table schemas.

Mirrors the reference's declared schemas:
- envelope: consumer/spark-streaming/spark_streaming.py:44-68
  (DEBEZIUM_SOURCE_SCHEMA / DEBEZIUM_PAYLOAD_SCHEMA / DEBEZIUM_MESSAGE_SCHEMA)
  and shared/models.py:9-88 (CDCSource/CDCEvent dataclasses)
- audit table: spark_streaming.py:71-87 (CDC_EVENTS_SCHEMA)
- snapshot tables: spark_streaming.py:90-148 (TABLE_SCHEMAS) — the
  committed Delta logs confirm the same columns + __cdc_* metadata
- metadata columns: SURVEY.md §1.5

``before``/``after`` ride through the parse layer as raw JSON strings
("JSON string for flexibility" — spark_streaming.py:59-60): the
envelope is table-generic, so typing happens per-table at apply time.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)

# Debezium source block (spark_streaming.py:44-55)
SOURCE_SCHEMA = StructType([
    StructField("version", StringType()),
    StructField("connector", StringType()),
    StructField("name", StringType()),
    StructField("ts_ms", LongType()),
    StructField("snapshot", StringType()),
    StructField("db", StringType()),
    StructField("schema", StringType()),
    StructField("table", StringType()),
    StructField("txId", LongType()),
    StructField("lsn", LongType()),
    StructField("xmin", LongType()),
])

# Debezium transaction block (shared/models.py:42-88 CDCEvent.transaction;
# emitted when the connector runs with provide.transaction.metadata)
TRANSACTION_SCHEMA = StructType([
    StructField("id", StringType()),
    StructField("total_order", LongType()),
    StructField("data_collection_order", LongType()),
])

# Typed part of the payload. before/after are declared STRING: Spark's
# JSON parser hands back the raw subtree re-serialized as compact JSON
# when an object token meets a string field — one parse of the message
# yields both the typed envelope AND the schema-agnostic row payloads
# (two extra get_json_object calls would each re-parse the full text).
PAYLOAD_TYPED_SCHEMA = StructType([
    StructField("op", StringType()),
    StructField("ts_ms", LongType()),
    StructField("before", StringType()),
    StructField("after", StringType()),
    StructField("source", SOURCE_SCHEMA),
    StructField("transaction", TRANSACTION_SCHEMA),
])

MESSAGE_TYPED_SCHEMA = StructType([StructField("payload", PAYLOAD_TYPED_SCHEMA)])

# Kafka message key: {"payload": {"id": N}} (shared/models.py:92-103)
KEY_SCHEMA = StructType([
    StructField("payload", StructType([StructField("id", LongType())])),
])

# Audit table (spark_streaming.py:71-87; delta_handler.py:20-37)
CDC_EVENTS_SCHEMA = StructType([
    StructField("event_id", StringType()),
    StructField("topic", StringType()),
    StructField("partition_id", IntegerType()),
    StructField("offset", LongType()),
    StructField("operation", StringType()),
    StructField("operation_name", StringType()),
    StructField("source_db", StringType()),
    StructField("source_schema", StringType()),
    StructField("source_table", StringType()),
    StructField("table_name", StringType()),
    StructField("before_data", StringType()),
    StructField("after_data", StringType()),
    StructField("event_timestamp", TimestampType()),
    StructField("source_lsn", LongType()),
    StructField("source_txid", LongType()),
    # Debezium transaction block (null unless the connector provides
    # transaction metadata) — envelope parity with CDCEvent.transaction
    StructField("txn_id", StringType()),
    StructField("txn_total_order", LongType()),
    StructField("txn_collection_order", LongType()),
    StructField("processed_at", TimestampType()),
])

# CDC metadata columns stamped onto every snapshot table (SURVEY.md §1.5;
# delta_handler.py:174-178, spark_streaming.py:336-339)
META_OPERATION = "__cdc_operation"
META_TIMESTAMP = "__cdc_timestamp"
META_PROCESSED = "__processed_at"
META_COLS = (META_OPERATION, META_TIMESTAMP, META_PROCESSED)
# the metadata columns every snapshot table carries after its data
# columns (SURVEY.md §1.5)
META_FIELDS = (
    StructField(META_OPERATION, StringType()),
    StructField(META_TIMESTAMP, TimestampType()),
    StructField(META_PROCESSED, TimestampType()),
)

OP_NAMES = {"c": "INSERT", "u": "UPDATE", "d": "DELETE", "r": "SNAPSHOT"}


def _t(*fields) -> StructType:
    return StructType([StructField(n, t) for n, t in fields])


# Reference domain snapshot tables (spark_streaming.py:90-148). Money
# columns are DoubleType on this path because Debezium is configured
# with decimal.handling.mode=double (postgres-source-connector.json:23);
# see SURVEY.md §7.1.
TABLE_SCHEMAS: dict[str, StructType] = {
    "customers": _t(
        ("id", LongType()), ("first_name", StringType()),
        ("last_name", StringType()), ("email", StringType()),
        ("phone", StringType()), ("address", StringType()),
        ("created_at", TimestampType()), ("updated_at", TimestampType()),
    ),
    "products": _t(
        ("id", LongType()), ("name", StringType()),
        ("description", StringType()), ("price", DoubleType()),
        ("stock_quantity", IntegerType()), ("category", StringType()),
        ("created_at", TimestampType()), ("updated_at", TimestampType()),
    ),
    "orders": _t(
        ("id", LongType()), ("customer_id", LongType()),
        ("order_date", TimestampType()), ("status", StringType()),
        ("total_amount", DoubleType()),
        ("created_at", TimestampType()), ("updated_at", TimestampType()),
    ),
    "order_items": _t(
        ("id", LongType()), ("order_id", LongType()),
        ("product_id", LongType()), ("quantity", IntegerType()),
        ("unit_price", DoubleType()), ("created_at", TimestampType()),
    ),
}
