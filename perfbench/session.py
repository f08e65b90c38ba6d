"""Spark session for one benchmark run, sized from the host and
confined to the run's work directory (local dirs, warehouse, JVM and
Python temp files), with the event log on for traced runs."""

from __future__ import annotations

import os

from perfbench import host


def start_spark(work: str, event_log_dir: str | None):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    # Python workers import the engine too; they start from the JVM's
    # environment, not this interpreter's sys.path
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    cores = host.cpu_count()
    heap = max(1024, min(4096, host.mem_total_mb() // 4))
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap}m"
    from deltalake_poc_spark.session import EngineConfig, get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "chk"),
        # pipeline builders spawn Python workers; they inherit TMPDIR
        "spark.executorEnv.TMPDIR": tmp,
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(EngineConfig(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf))
    return spark, {"cores": cores, "driver_heap_mb": heap,
                   "mem_total_mb": host.mem_total_mb()}


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM, and with it the Python
    workers it forked, has exited. The JVM leaves when the pipe to its
    standard input closes."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
