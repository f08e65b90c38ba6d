"""External source/sink escape hatches (SURVEY.md §2.1 S12, S16, S17).

- JDBC mirror read/write (S12): the reference keeps Postgres "target"
  mirrors updated with ON CONFLICT upserts (database.py:161-196); in
  this engine Postgres is just another snapshot sink — the same
  CDCApplier output written via spark JDBC. Plain reads mirror
  ``spark.read.jdbc``. The generated postgresql-dialect statements
  are validated against a LIVE PostgreSQL 15 server
  (tests/test_live_postgres.py). The JDBC *transport* itself
  (real java.sql connections from executor tasks) is validated
  against a live HiveServer2 endpoint served by this same engine
  (``start_thrift_server`` below + tests/test_jdbc_transport.py):
  unpartitioned and bound-partitioned ``jdbc_read`` both run the
  full driver->DriverManager->executor path with the hive-jdbc
  driver that ships in the Spark runtime. The *write* leg cannot
  run against that endpoint — hive-jdbc 2.3 throws
  SQLFeatureNotSupportedException from the addBatch/executeBatch
  calls JdbcUtils.savePartition requires (pinned in
  tests/test_jdbc_transport.py) — but since r7 it runs LIVE against
  an embedded DuckDB over its batch-capable JDBC driver (a public
  Maven artifact found in the local coursier cache):
  ``jdbc_write`` (executor-side batched INSERT), ``jdbc_upsert``
  (staging write + ON CONFLICT merge + delete), and a cross-engine
  read-back of the written database file
  (tests/test_jdbc_transport.py::test_jdbc_write_and_upsert_live_duckdb).
- Raw-parquet read (S16): the notebook's DuckDB-over-parquet path
  (cells 43-48) bypasses the transaction log and therefore sees
  removed/uncommitted files — provided for parity, with the same
  caveat, via ``read_raw_parquet``.
- S3/MinIO (S17): config-only in Spark — see EngineConfig.s3a()
  (session.py), mirroring notebook cell 60's fs.s3a.* settings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def jdbc_read(spark: SparkSession, url: str, table: str,
              user: str | None = None, password: str | None = None,
              partition_column: str | None = None,
              lower_bound: int | None = None, upper_bound: int | None = None,
              num_partitions: int | None = None,
              driver: str | None = None) -> DataFrame:
    """Parallel JDBC read (predicate-partitioned when bounds given —
    without them the read is single-task, which does not scale)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver is not None:
        reader = reader.option("driver", driver)
    if user is not None:
        reader = reader.option("user", user)
    if password is not None:
        reader = reader.option("password", password)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()


def jdbc_write(df: DataFrame, url: str, table: str, mode: str = "append",
               user: str | None = None, password: str | None = None,
               driver: str | None = None,
               create_table_column_types: str | None = None) -> None:
    """JDBC sink. For upsert semantics, land into a staging table and
    MERGE DB-side, or write the CDCApplier snapshot with
    mode='overwrite' (truncate) — per-row ON CONFLICT from executors
    (the reference's approach) does not scale past one connection.
    ``create_table_column_types`` overrides the dialect's DDL types
    for servers whose type names differ (e.g. ``"v STRING"``)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    if driver is not None:
        writer = writer.option("driver", driver)
    if create_table_column_types is not None:
        writer = writer.option("createTableColumnTypes",
                               create_table_column_types)
    if user is not None:
        writer = writer.option("user", user)
    if password is not None:
        writer = writer.option("password", password)
    writer.mode(mode).save()


def upsert_statements(columns: list[str], table: str,
                      keys: tuple[str, ...] = ("id",),
                      staging_table: str | None = None,
                      dialect: str = "postgresql",
                      schema: str = "public",
                      synced_at_col: str | None = "__synced_at",
                      cdc_op_col: str = "__cdc_operation",
                      now_expr: str = "CURRENT_TIMESTAMP") -> dict[str, str]:
    """Generate the staging->target upsert SQL the reference applies
    per-row (database.py:161-196: INSERT … ON CONFLICT (id) DO UPDATE
    SET col = EXCLUDED.col, __synced_at = CURRENT_TIMESTAMP) — but
    SET-BASED: Spark lands the (already key-deduplicated) batch into a
    staging table, then ONE statement merges it. Per-row ON CONFLICT
    from executors funnels through individual connections and does not
    scale; stage+merge ships the same semantics in one DB-side set
    operation.

    Returns {"upsert": …, "delete": …?, "drop_staging": …}:
    - upsert: applies non-delete rows (all non-key columns updated on
      conflict; the reference's update_set also lists the key, which
      some engines reject and which is a no-op anyway)
    - delete (only when ``cdc_op_col`` is in columns): removes rows
      whose latest CDC event is a Debezium delete ('d'), matching the
      reference's DELETE branch (database.py:140-146)
    - drop_staging: cleanup

    Dialects: postgresql (ON CONFLICT), mysql (ON DUPLICATE KEY),
    merge (ANSI MERGE — SQL Server / Oracle / DB2).
    """
    if not set(keys) <= set(columns):
        raise ValueError(f"keys {keys} not all in columns")
    if dialect not in ("postgresql", "mysql", "merge"):
        raise ValueError(f"unknown dialect {dialect!r}")
    staging = staging_table or f"{table}__staging"
    # ANSI double-quoted identifiers — except MySQL, where stock servers
    # only accept backticks (ANSI_QUOTES is off by default)
    q = "`{}`".format if dialect == "mysql" else '"{}"'.format
    tgt = f"{schema}.{q(table)}" if schema else q(table)
    stg = f"{schema}.{q(staging)}" if schema else q(staging)
    cols = ", ".join(q(c) for c in columns)
    has_cdc_op = cdc_op_col in columns
    not_delete = f" WHERE {q(cdc_op_col)} <> 'd'" if has_cdc_op else ""
    synced = (f", {q(synced_at_col)} = {now_expr}"
              if synced_at_col else "")
    key_eq = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)

    # SET over non-key columns only: the reference's update_set lists
    # every column (Postgres tolerates assigning the conflict key to
    # itself), but engines with strict PK binding (e.g. DuckDB) reject
    # it and the semantics are identical. The synced-at column is also
    # excluded when it gets its own now_expr assignment — PostgreSQL
    # raises "multiple assignments to same column" on the duplicate
    # (caught by the live-server test, tests/test_live_postgres.py;
    # the DuckDB twin had tolerated it by never staging that column).
    upd_cols = [c for c in columns
                if c not in keys and (synced_at_col is None
                                      or c != synced_at_col)]
    # the INSERT path stamps the synced column too (the reference sets
    # CURRENT_TIMESTAMP on both the VALUES and the DO UPDATE branch)
    sel_cols = ", ".join(
        f"{now_expr} AS {q(c)}" if c == synced_at_col else q(c)
        for c in columns)

    if dialect == "postgresql":
        set_clause = ", ".join(f"{q(c)} = EXCLUDED.{q(c)}" for c in upd_cols)
        upsert = (
            f"INSERT INTO {tgt} ({cols}) SELECT {sel_cols} FROM {stg}"
            f"{not_delete} "
            f"ON CONFLICT ({', '.join(q(k) for k in keys)}) "
            f"DO UPDATE SET {set_clause}{synced}"
        )
        delete = (
            f"DELETE FROM {tgt} t USING {stg} s "
            f"WHERE {key_eq} AND s.{q(cdc_op_col)} = 'd'"
        )
    elif dialect == "mysql":
        # VALUES(col) is deprecated since MySQL 8.0.20; the documented
        # replacement for INSERT … SELECT is a derived-table alias
        # whose columns are referenced in the UPDATE clause
        set_clause = ", ".join(f"{q(c)} = new.{q(c)}" for c in upd_cols)
        synced_my = (f", {q(synced_at_col)} = {now_expr}"
                     if synced_at_col else "")
        upsert = (
            f"INSERT INTO {tgt} ({cols}) "
            f"SELECT {cols} FROM "
            f"(SELECT {sel_cols} FROM {stg}{not_delete}) AS new "
            f"ON DUPLICATE KEY UPDATE {set_clause}{synced_my}"
        )
        delete = (
            f"DELETE t FROM {tgt} t JOIN {stg} s ON {key_eq} "
            f"WHERE s.{q(cdc_op_col)} = 'd'"
        )
    elif dialect == "merge":
        set_clause = ", ".join(f"t.{q(c)} = s.{q(c)}" for c in upd_cols)
        ins_vals = ", ".join(
            now_expr if c == synced_at_col else f"s.{q(c)}" for c in columns)
        del_clause = (
            f"WHEN MATCHED AND s.{q(cdc_op_col)} = 'd' THEN DELETE "
            if has_cdc_op else ""
        )
        guard = f"AND s.{q(cdc_op_col)} <> 'd' " if has_cdc_op else ""
        upsert = (
            f"MERGE INTO {tgt} t USING {stg} s ON {key_eq} "
            f"{del_clause}"
            f"WHEN MATCHED {guard}THEN UPDATE SET {set_clause}{synced} "
            f"WHEN NOT MATCHED {guard}THEN INSERT ({cols}) VALUES ({ins_vals})"
        )
        delete = None  # folded into the MERGE's WHEN MATCHED … DELETE
    else:
        raise ValueError(f"unknown dialect {dialect!r}")

    out = {"upsert": upsert, "drop_staging": f"DROP TABLE IF EXISTS {stg}"}
    if has_cdc_op and delete is not None:
        out["delete"] = delete
    return out


def jdbc_execute(spark: SparkSession, url: str, statements: list[str],
                 user: str | None = None, password: str | None = None) -> None:
    """Run DDL/DML statements through the session JVM's JDBC driver
    (driver-side, one connection, one transaction)."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    if user is not None:
        props.setProperty("user", user)
    if password is not None:
        props.setProperty("password", password)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        conn.setAutoCommit(False)
        st = conn.createStatement()
        try:
            for s in statements:
                st.execute(s)
        finally:
            st.close()
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def jdbc_upsert(df: DataFrame, url: str, table: str,
                keys: tuple[str, ...] = ("id",),
                dialect: str = "postgresql", schema: str = "public",
                user: str | None = None, password: str | None = None,
                synced_at_col: str | None = "__synced_at") -> None:
    """S12 upsert mirror, set-based: land ``df`` into a staging table
    (parallel JDBC write; Spark creates it), then apply ONE
    upsert/delete statement pair DB-side and drop the staging table.
    ``df`` must hold at most one row per key (CDCApplier batches
    already do — in-batch dedup keeps the latest event per key)."""
    staging = f"{table}__staging"
    stmts = upsert_statements(
        [f.name for f in df.schema.fields], table, keys,
        staging_table=staging, dialect=dialect, schema=schema,
        synced_at_col=synced_at_col,
    )
    jdbc_write(df, url, f"{schema}.{staging}" if schema else staging,
               mode="overwrite", user=user, password=password)
    seq = [stmts["upsert"]]
    if "delete" in stmts:
        seq.append(stmts["delete"])
    seq.append(stmts["drop_staging"])
    jdbc_execute(df.sparkSession, url, seq, user=user, password=password)


_THRIFT_URL: str | None = None


def start_thrift_server(spark: SparkSession, port: int | None = None) -> str:
    """Expose the session's catalog over HiveServer2 Thrift JDBC and
    return the ``jdbc:hive2://`` URL (the Spark-native analog of the
    reference keeping Postgres mirrors for BI clients,
    database.py:161-196: any JDBC client — beeline, JDBC BI tools, or
    another Spark via ``jdbc_read`` — can query engine output live).

    Once per JVM: HiveThriftServer2 registers global state, so a
    second call returns the first URL. Side effects, both documented
    contracts of serving JDBC from a live session:

    - the returned URL carries
      ``?spark.sql.ansi.doubleQuotedIdentifiers=true`` so the
      double-quoted column lists Spark's stock JDBC dialect generates
      parse as identifiers in every server-side connection session
      (without it they parse as string LITERALS and the read silently
      returns column names as data — each Thrift connection gets a
      fresh session state, so a runtime conf.set on the serving
      session does not reach clients);
    - the Derby metastore HiveServer2 requires lands under
      ``derby.system.home`` — callers (tests) point that at a scratch
      dir via System property before first start.

    Serving shares the session's task slots: a client running N
    parallel JDBC partitions needs N free cores on top of its own, so
    keep client-side ``numPartitions`` below ``local[K]`` (on a real
    cluster the server is its own application and this is moot).
    """
    global _THRIFT_URL
    if _THRIFT_URL is not None:
        return _THRIFT_URL
    if port is None:
        import socket

        s = socket.socket()
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
        s.close()
    jvm = spark._jvm
    jvm.java.lang.System.setProperty("hive.server2.thrift.port", str(port))
    # Session close runs Hive's unCacheDataNucleusClassLoaders
    # housekeeping, which spins up a fresh HMS handler; when that
    # fails (embedded Derby, second in-JVM handler) RetryingHMSHandler
    # retry-sleeps ~20 s PER CONNECTION CLOSE with the defaults
    # (10 × 2 s). The handler is pure housekeeping here — fail fast.
    jvm.java.lang.System.setProperty("hive.hmshandler.retry.attempts", "1")
    jvm.java.lang.System.setProperty("hive.hmshandler.retry.interval", "0s")
    jvm.org.apache.spark.sql.hive.thriftserver.HiveThriftServer2.startWithContext(
        spark._jsparkSession.sqlContext())
    _THRIFT_URL = (f"jdbc:hive2://localhost:{port}/default"
                   "?spark.sql.ansi.doubleQuotedIdentifiers=true")
    return _THRIFT_URL


HIVE_JDBC_DRIVER = "org.apache.hive.jdbc.HiveDriver"


def read_raw_parquet(spark: SparkSession, table_root: str) -> DataFrame:
    """S16 parity: read a versioned table's data directory as bare
    parquet, IGNORING the transaction log — like the reference
    notebook's DuckDB httpfs reads, this sees files that have been
    logically removed but not yet vacuumed. Use VersionedTable.read()
    unless you specifically want that behavior."""
    return spark.read.parquet(f"{table_root}/data")
