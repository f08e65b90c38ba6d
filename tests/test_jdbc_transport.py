"""S12 JDBC transport, validated live end-to-end.

Round-5 state: upsert SQL semantics were proven on a live PostgreSQL
15 via psql, but ``spark.read/write.format("jdbc")`` itself never ran
— no postgres/mysql driver jar exists in this environment. This round
closes the read leg with what the runtime DOES ship: hive-jdbc. The
engine starts HiveServer2 inside its own session
(``sources.start_thrift_server``) and reads back through real
``java.sql`` connections opened by executor tasks:

- unpartitioned read: one connection, values certified against the
  served table;
- bound-partitioned read: N executor-side connections each fetching a
  key range — the path a 100 TB bootstrap load of a JDBC mirror uses
  (reference database.py keeps such mirrors; a Spark reload of one
  must split it or the read is one task);
- the write leg is pinned BLOCKED against hive-jdbc, precisely:
  hive-jdbc 2.3's Statement.addBatch raises
  SQLFeatureNotSupportedException, and Spark's
  JdbcUtils.savePartition requires executeBatch. Round 7 found a
  batch-capable driver in the environment (the DuckDB JDBC jar) and
  promoted jdbc_write/jdbc_upsert to the live test at the bottom of
  this file; the hive pin remains as documentation of THAT driver's
  limitation.

Serving and reading share one local[4] JVM, so client-side
numPartitions stays at 2 (see start_thrift_server docstring).
"""
from __future__ import annotations

import tempfile

import pytest

from deltalake_poc_spark.sources import (
    HIVE_JDBC_DRIVER,
    jdbc_read,
    jdbc_write,
    start_thrift_server,
)


@pytest.fixture(scope="module")
def thrift(spark):
    # HiveServer2 boots a Derby metastore; keep it out of the repo.
    scratch = tempfile.mkdtemp(prefix="thrift-derby-")
    spark._jvm.java.lang.System.setProperty("derby.system.home", scratch)
    url = start_thrift_server(spark)
    spark.sql("DROP TABLE IF EXISTS jdbc_src")
    spark.sql(
        "CREATE TABLE jdbc_src AS "
        "SELECT id, "
        "       CAST(id * 1.5 AS DOUBLE) AS amount, "
        "       concat('cust_', id % 7) AS name, "
        "       IF(id % 11 = 0, CAST(NULL AS STRING), "
        "          repeat('x', CAST(id % 5 AS INT))) AS note, "
        "       DATE_ADD(DATE'2024-01-01', CAST(id % 90 AS INT)) AS d, "
        "       TIMESTAMP'2024-03-01 10:00:00' + make_interval(0,0,0,0,0,0,id) AS ts "
        "FROM range(500)")
    yield url
    spark.sql("DROP TABLE IF EXISTS jdbc_src")


def _served(spark):
    return spark.table("jdbc_src")


def test_jdbc_read_unpartitioned_roundtrip(spark, thrift):
    """One JDBC action (each Thrift operation pays async-poll latency,
    so certification happens on one collected batch)."""
    got = jdbc_read(spark, thrift, "jdbc_src", driver=HIVE_JDBC_DRIVER)
    assert got.schema.simpleString() == _served(spark).schema.simpleString()
    rows = sorted(got.collect(), key=lambda r: r["id"])
    want = sorted(_served(spark).collect(), key=lambda r: r["id"])
    assert len(rows) == 500
    assert rows == want  # every column, every row, typed equality


def test_jdbc_read_partitioned_parallel(spark, thrift):
    got = jdbc_read(spark, thrift, "jdbc_src", partition_column="id",
                    lower_bound=0, upper_bound=500, num_partitions=2,
                    driver=HIVE_JDBC_DRIVER)
    # really split into range-predicate tasks
    assert got.rdd.getNumPartitions() == 2
    rows = got.collect()
    # per-range predicates must neither lose nor duplicate boundary keys
    assert len(rows) == 500
    assert len({r["id"] for r in rows}) == 500
    assert sum(r["id"] for r in rows) == 499 * 500 // 2
    assert abs(sum(r["amount"] for r in rows) - 1.5 * 499 * 500 / 2) < 1e-6


def test_jdbc_read_filter_composes(spark, thrift):
    got = jdbc_read(spark, thrift, "jdbc_src", partition_column="id",
                    lower_bound=0, upper_bound=500, num_partitions=2,
                    driver=HIVE_JDBC_DRIVER)
    assert got.filter("id >= 450").count() == 50


def test_jdbc_write_blocked_by_driver_batching(spark, thrift):
    """Env-block pin: the stock JDBC sink needs addBatch/executeBatch;
    hive-jdbc 2.3 does not implement them. If this stops raising, the
    environment gained a batch-capable driver — promote jdbc_write and
    jdbc_upsert to live tests."""
    df = spark.range(5).selectExpr("id", "concat('w', id) AS v")
    with pytest.raises(Exception) as ei:
        # VARCHAR, not STRING: createTableColumnTypes round-trips the
        # named type through Catalyst, and StringType re-renders as
        # the dialect's TEXT, which Spark-SQL DDL rejects — VARCHAR(n)
        # survives the round trip, so the CREATE succeeds and the
        # failure lands where the block really is: the INSERT batch.
        jdbc_write(df.coalesce(1), thrift, "jdbc_sink_blocked",
                   mode="overwrite", driver=HIVE_JDBC_DRIVER,
                   create_table_column_types="v VARCHAR(100)")
    msg = str(ei.value)
    assert ("SQLFeatureNotSupportedException" in msg
            or "Method not supported" in msg)
    spark.sql("DROP TABLE IF EXISTS jdbc_sink_blocked")


# ---------------------------------------------------------------------
# round 7: the environment re-probe found a DuckDB JDBC driver jar
# (org.duckdb:duckdb_jdbc, a public Maven artifact) in the local
# coursier cache — and DuckDB's driver DOES implement
# addBatch/executeBatch. That unblocks the write leg the hive-jdbc pin
# above documents: jdbc_write (real batched INSERTs from
# JdbcUtils.savePartition) and jdbc_upsert (staging write + ON
# CONFLICT merge through jdbc_execute) now run LIVE. The jar must be
# on the driver JVM's classpath at launch, so the test runs in a
# subprocess JVM; the written database file is then re-opened by the
# PYTHON duckdb module (same storage version) — a genuine cross-engine
# read-back of what Spark wrote over JDBC.

def _find_duckdb_jdbc_jar():
    import glob
    import os
    hits = glob.glob(os.path.expanduser(
        "~/.cache/coursier/**/duckdb_jdbc*.jar"), recursive=True)
    return sorted(hits)[-1] if hits else None


_DUCK_SCRIPT = r"""
import os, sys, tempfile
repo = sys.argv[1]; jar = sys.argv[2]; db = sys.argv[3]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from deltalake_poc_spark.sources import (
    jdbc_execute, jdbc_read, jdbc_upsert, jdbc_write)
url = f"jdbc:duckdb:{db}"
DRV = "org.duckdb.DuckDBDriver"
spark = (SparkSession.builder.master("local[2]")
         .config("spark.jars", jar)
         .config("spark.driver.extraClassPath", jar)
         .config("spark.executor.extraClassPath", jar)
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
df = (spark.range(0, 1000)
      .selectExpr("id", "cast(id * 1.5 as double) AS amount",
                  "concat('n', id) AS name")
      .coalesce(2))
# pre-create every target: Spark 4's tableExists probe (SELECT 1 FROM
# t WHERE 1=0) can only CLASSIFY the does-not-exist error for dialects
# it knows; DuckDB's "Catalog Error" from an unknown dialect is
# rethrown instead of treated as missing. With the tables present the
# probe passes and overwrite still exercises DROP + CREATE + the
# batched INSERT path under test.
jdbc_execute(spark, url, [
    'CREATE TABLE "mirror" (id BIGINT, amount DOUBLE, name VARCHAR)',
    'CREATE TABLE "tgt" (id BIGINT PRIMARY KEY, name VARCHAR, '
    ' "__cdc_operation" VARCHAR)',
    'CREATE TABLE "tgt__staging" (id BIGINT, name VARCHAR, '
    ' "__cdc_operation" VARCHAR)'])
# write leg: mode=overwrite -> Spark DDL + executor-side batched INSERT
jdbc_write(df, url, "mirror", mode="overwrite", driver=DRV)
back = jdbc_read(spark, url, "mirror", driver=DRV)
assert back.count() == 1000
assert back.agg(F.sum("id")).collect()[0][0] == 499500
# append leg on the existing table
jdbc_write(df.filter("id < 10"), url, "mirror", mode="append", driver=DRV)
assert jdbc_read(spark, url, "mirror", driver=DRV).count() == 1010
# upsert leg: PK target, stage + ON CONFLICT + delete, all through
# JDBC. jdbc_upsert drops its staging table when done, and the next
# staging write's existence probe hits the same unknown-dialect
# classification quirk — so re-create staging before each call (a
# known-dialect server auto-creates it; the product logic under test
# is the stage + merge + delete sequence, which runs unmodified).
_STG = ('CREATE TABLE IF NOT EXISTS "tgt__staging" (id BIGINT, '
        'name VARCHAR, "__cdc_operation" VARCHAR)')
base = spark.range(0, 10).selectExpr(
    "id", "concat('a', id) AS name", "'c' AS __cdc_operation")
jdbc_upsert(base, url, "tgt", keys=("id",), dialect="postgresql",
            schema=None, synced_at_col=None)
jdbc_execute(spark, url, [_STG])
upd = spark.range(5, 15).selectExpr(
    "id", "concat('b', id) AS name",
    "CASE WHEN id = 6 THEN 'd' ELSE 'u' END AS __cdc_operation")
jdbc_upsert(upd, url, "tgt", keys=("id",), dialect="postgresql",
            schema=None, synced_at_col=None)
rows = {r["id"]: r["name"]
        for r in jdbc_read(spark, url, "tgt", driver=DRV).collect()}
assert len(rows) == 14, rows              # 0..14 minus deleted 6
assert rows[3] == "a3" and rows[7] == "b7" and rows[14] == "b14"
assert 6 not in rows
spark.stop()
# cross-engine read-back of the same file
import duckdb
con = duckdb.connect(db, read_only=True)
assert con.execute("SELECT COUNT(*), SUM(id) FROM mirror").fetchone() \
    == (1010, 499545)
assert con.execute("SELECT COUNT(*) FROM tgt").fetchone()[0] == 14
print("JDBC_WRITE_LIVE_OK")
"""


@pytest.mark.skipif(_find_duckdb_jdbc_jar() is None,
                    reason="no batch-capable JDBC driver jar in env")
def test_jdbc_write_and_upsert_live_duckdb(tmp_path):
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "duck_jdbc_live.py"
    script.write_text(_DUCK_SCRIPT)
    db = str(tmp_path / "mirror.duckdb")
    proc = subprocess.run(
        [sys.executable, str(script), repo,
         _find_duckdb_jdbc_jar(), db],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    assert "JDBC_WRITE_LIVE_OK" in proc.stdout


_RELEASE_SCRIPT = r"""
import subprocess, sys
repo, jar, db = sys.argv[1:4]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession
from deltalake_poc_spark.sources import jdbc_execute
spark = (SparkSession.builder.master("local[1]").config("spark.jars", jar)
         .config("spark.driver.extraClassPath", jar)
         .config("spark.ui.enabled", "false").getOrCreate())
jdbc_execute(spark, f"jdbc:duckdb:{db}",
             ["CREATE TABLE t (id BIGINT)", "INSERT INTO t VALUES (1)"])
# another process can lock the file only once this JVM has released
# the database (DuckDB locks a database file per process)
probe = subprocess.run(
    [sys.executable, "-c", "import duckdb, sys; print(duckdb.connect("
     "sys.argv[1], read_only=True).execute('SELECT count(*) FROM t')"
     ".fetchone()[0])", db], capture_output=True, text=True)
spark.stop()
print("PROBE", probe.returncode, probe.stdout.strip(), probe.stderr[-500:])
"""


@pytest.mark.skipif(_find_duckdb_jdbc_jar() is None,
                    reason="no batch-capable JDBC driver jar in env")
def test_jdbc_execute_releases_the_database(tmp_path):
    """jdbc_execute closes its statement: an open DuckDB statement pins
    the database past conn.close() until GC finalizes it, and that late
    shutdown on the finalizer thread checkpoints the file while a new
    connection may be opening it ("Serialization Error: Failed to
    deserialize" in the live write test)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "duck_jdbc_release.py"
    script.write_text(_RELEASE_SCRIPT)
    proc = subprocess.run(
        [sys.executable, str(script), repo, _find_duckdb_jdbc_jar(),
         str(tmp_path / "t.duckdb")],
        capture_output=True, text=True, timeout=600)
    assert "PROBE 0 1" in proc.stdout, proc.stdout[-2000:] + proc.stderr[-2000:]
