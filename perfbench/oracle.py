"""Engine-independent expected results, computed with DuckDB.

- CDC: the expected snapshot of a table is the latest event per key
  (ordered by source lsn, then Kafka offset) over the same topic files
  the engine consumed, minus keys whose latest event is a delete, on
  top of an optional preloaded base snapshot. Nothing here calls the
  engine: messages are parsed with DuckDB's JSON functions.
- Queries: the registry's DuckDB SQL for the same query, over the same
  generated parquet files.

Comparisons are exact: floats compare by value with no tolerance (a
one-ulp difference fails) and rows compare as multisets.
"""

from __future__ import annotations

import datetime
import math

import duckdb
import pandas as pd

from perfbench.gen import TopicSpec

_SQL_TYPES = {"str": "VARCHAR", "money": "DOUBLE", "int": "INTEGER",
              "long": "BIGINT", "status": "VARCHAR", "flag": "VARCHAR",
              "prio": "VARCHAR", "ts": "BIGINT", "day": "BIGINT"}
_TIME_KINDS = ("ts", "day")


def snapshot_columns(spec: TopicSpec, table: str) -> list[str]:
    """Columns compared for a CDC snapshot table, in order: key, value
    columns, last operation. Timestamps compare as epoch microseconds."""
    return [spec.key_column, *[c for c, _ in spec.columns(table)],
            "__cdc_operation"]


def time_columns(spec: TopicSpec, table: str) -> list[str]:
    return [c for c, k in spec.columns(table) if k in _TIME_KINDS]


def messages_view(con: duckdb.DuckDBPyConnection, files: list[str],
                  name: str = "msgs") -> None:
    lst = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    con.execute(f"""
        CREATE OR REPLACE VIEW {name} AS
        SELECT json_extract_string(value, '$.payload.source.table') AS tbl,
               json_extract_string(value, '$.payload.op') AS op,
               CAST(json_extract(value, '$.payload.source.lsn') AS BIGINT)
                   AS lsn,
               "offset" AS off,
               json_extract(value, '$.payload.after') AS after,
               json_extract(value, '$.payload.before') AS before
        FROM read_json({lst}, format = 'newline_delimited',
                       columns = {{key: 'VARCHAR', value: 'VARCHAR',
                                  topic: 'VARCHAR', partition: 'INTEGER',
                                  "offset": 'BIGINT'}})""")


def expected_snapshot_sql(spec: TopicSpec, table: str,
                          base: str | None = None) -> str:
    """SQL for the expected snapshot of ``table`` (``snapshot_columns``
    order) over the ``msgs`` view. ``base`` names a relation holding
    the preloaded rows, with the same columns and timestamps as
    TIMESTAMP values."""
    key = spec.key_column
    typed = ", ".join(
        f"CAST(json_extract"
        f"{'_string' if _SQL_TYPES[k] == 'VARCHAR' else ''}"
        f"(after, '$.{c}') AS {_SQL_TYPES[k]}) AS {c}"
        for c, k in spec.columns(table))
    latest = f"""
        SELECT k AS {key}, op, after FROM (
            SELECT CAST(coalesce(json_extract(after, '$.{key}'),
                                 json_extract(before, '$.{key}')) AS BIGINT)
                       AS k,
                   op, after,
                   row_number() OVER (PARTITION BY k
                                      ORDER BY lsn DESC, off DESC) AS rn
            FROM msgs WHERE tbl = '{table}')
        WHERE rn = 1"""
    from_events = f"""
        SELECT {key}, {typed}, op AS __cdc_operation
        FROM ({latest}) WHERE op <> 'd'"""
    if base is None:
        return from_events
    cols = ", ".join(
        f"epoch_us({c}) AS {c}" if k in _TIME_KINDS else c
        for c, k in spec.columns(table))
    return f"""
        {from_events}
        UNION ALL
        SELECT {key}, {cols}, __cdc_operation FROM {base}
        WHERE {key} NOT IN (SELECT {key} FROM ({latest}))"""


def diff_counts(con: duckdb.DuckDBPyConnection, expected: str,
                got: str) -> tuple[int, int]:
    """(rows expected but missing, rows present but unexpected), as
    multisets. ``expected``/``got`` are relation names or subqueries
    with the same column order."""
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {expected} "
        f"EXCEPT ALL SELECT * FROM {got})").fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {got} "
        f"EXCEPT ALL SELECT * FROM {expected})").fetchone()[0]
    return int(missing), int(extra)


# ------------------------------------------------------ query results


def _canon_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # repr is the shortest round-trip string: a one-ulp difference
        # gives a different string
        return "NULL" if math.isnan(v) else repr(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if hasattr(v, "item"):  # numpy scalar
        return _canon_cell(v.item())
    return repr(v)


def canonical_rows(pdf: pd.DataFrame) -> list[tuple]:
    """Rows of a result frame as sorted tuples of canonical strings,
    columns in name order (column order and row order do not count)."""
    pdf = pdf[sorted(pdf.columns)].astype(object)
    pdf = pdf.where(pd.notna(pdf), None)
    return sorted(tuple(_canon_cell(v) for v in row)
                  for row in pdf.itertuples(index=False))


def same_result(got: pd.DataFrame, expected: pd.DataFrame) -> bool:
    return (sorted(got.columns) == sorted(expected.columns)
            and len(got) == len(expected)
            and canonical_rows(got) == canonical_rows(expected))
