#!/usr/bin/env python3
"""Benchmark the engine's headline queries.

Runs every __spark_entry__ query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full computation,
no collect/toPandas driver cost).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _cpu_stat() -> dict[str, int]:
    """Aggregate /proc/stat jiffies — steal/iowait expose host-level
    interference (this box shows sporadic 25-45s stalls with an IDLE
    JVM and zero GC activity; without this column a neighbor's noisy
    minute reads as a query regression)."""
    try:
        vals = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return {"busy": sum(vals[:3]), "idle": vals[3],
                "iowait": vals[4], "steal": vals[7] if len(vals) > 7 else 0}
    except Exception:
        return {}


def _host_regime() -> dict[str, object]:
    """Snapshot the host's clock/scheduling regime: cpu MHz (mean and
    min across cores), the cpufreq governor, and the 1/5/15-min
    loadavg. cpu_steal_pct alone has twice (r8, r11) failed to explain
    a uniform +10-15% shift across untouched queries — a throttled
    clock or a loaded host shows up here even when steal reads ~0, so
    quiet-to-quiet comparisons become self-evidencing from the
    artifact instead of needing prose adjudication."""
    out: dict[str, object] = {}
    try:
        mhz = [float(line.split(":")[1])
               for line in open("/proc/cpuinfo")
               if line.startswith("cpu MHz")]
        if mhz:
            out["cpu_mhz_mean"] = round(sum(mhz) / len(mhz), 1)
            out["cpu_mhz_min"] = round(min(mhz), 1)
    except Exception:
        pass
    try:
        out["cpu_governor"] = open(
            "/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor"
        ).read().strip()
    except Exception:
        pass
    try:
        out["loadavg"] = [float(x)
                          for x in open("/proc/loadavg").read().split()[:3]]
    except Exception:
        pass
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from deltalake_poc_spark.session import EngineConfig, get_spark

    # one JVM runs ~60 queries back-to-back; at the 8g default, major
    # GC pauses land randomly on whichever query is executing (observed:
    # a 0.4s groupBy measured at 12s). More heap = fewer, cheaper majors
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark(EngineConfig(
        app_name="bench", master=f"local[{cpus}]",
        shuffle_partitions=int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)),
    ))

    import __spark_entry__ as entrymod
    from tests.oracle_util import duck_connection

    qs = dict(entrymod.queries())
    # benched-but-not-driver-gated operators (non-SQL-recomputable
    # outputs, e.g. the minibatch k-means fit) still get timed here
    qs.update(entrymod.bench_extra_queries())
    # delta_read reads a reference table that not every host has; its
    # absence costs that one row, recorded with its reason
    skipped: dict[str, str] = {}
    if absent := entrymod._ref_delta_absent():
        skipped["delta_read"] = absent
        del qs["delta_read"]
    warmup(spark, sf_dir, cpus)

    # median-of-N per query: single-shot numbers swing up to 3x when a
    # major GC / JIT compilation lands mid-query (observed: decontaminate
    # 3.2s warm vs 10.2s in one sweep). The median kills that noise;
    # every rep is a full end-to-end execution (write pipelines rebuild
    # their scratch tables from scratch each rep).
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    def _median(xs: list[float]) -> float:
        xs = sorted(xs)
        n = len(xs)
        mid = xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2
        return round(mid, 3)

    def _time_reps(fn) -> tuple[float, float]:
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
        return _median(runs), round(min(runs), 3)

    # median is the headline; the min rides along because this host's
    # noise is one-sided — a steal burst can land on ALL of one query's
    # consecutive reps (observed: simhash 9.5s median inside a sweep,
    # 1.4-2s in isolation minutes later), and the min exposes the
    # query's actual cost under that interference
    stat0 = _cpu_stat()
    regime0 = _host_regime()
    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    for name, fn in qs.items():
        timings[name], timings_min[name] = _time_reps(fn)
    # the 7 production twins joined queries() in r7 (driver-gated like
    # everything else), so they are timed in the main loop now; the
    # headline total grew by their ~9s accordingly — cross-round
    # comparisons should use the per-query map, not the raw total.
    # r8: kmeans_minibatch_clusters moved to bench_extra_queries
    # (still timed above); the 5 rows-only twins gained full oracles,
    # simhash/winnow_dedup_prod now exact-rescore their candidates and
    # ivf_kmeans_topk runs the exact triangle-inequality probe, so
    # their timings are not comparable to r7's

    # single-node comparison point: the same queries' oracle SQL in
    # DuckDB at the same scale (the reference publishes no numbers, so
    # the DuckDB-oracle runtime is the effective baseline; BASELINE.md)
    oracle_timings: dict[str, float] = {}
    con = duck_connection(sf_dir)
    for name, sql in entrymod.oracle_sql().items():
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            runs.append(time.perf_counter() - t0)
        oracle_timings[name] = _median(runs)
    con.close()

    stat1 = _cpu_stat()
    regime1 = _host_regime()
    env = {}
    if stat0 and stat1:
        d = {k: stat1[k] - stat0[k] for k in stat0}
        tot = sum(d.values()) or 1
        env = {"cpu_steal_pct": round(100 * d["steal"] / tot, 2),
               "cpu_iowait_pct": round(100 * d["iowait"] / tot, 2)}
    # host-regime telemetry (r12): start/end snapshots bracket the
    # run so a mid-run governor flip or clock throttle is visible
    if regime0:
        env["host_regime_start"] = regime0
    if regime1:
        env["host_regime_end"] = regime1
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "total_query_sec",
        "value": total,  # sum of per-query medians
        "unit": "sec",
        "reps": reps,
        **env,
        # sum of per-query MINIMUMS: the noise-floor companion to the
        # median headline. Cross-round comparisons should look at BOTH
        # — a query whose median moved but whose min is flat regressed
        # in GC/steal luck, not in plan quality.
        "total_min_sec": round(sum(timings_min.values()), 3),
        "queries": timings,
        "queries_min": timings_min,
        "skipped": skipped,
        "oracle_duckdb_sec": oracle_timings,
        "oracle_total_sec": round(sum(oracle_timings.values()), 3),
        # these entries are full WRITE pipelines (ingest + merge + table
        # writes + read-back); their oracles are pure SELECTs checking
        # the semantic output, not equivalent workloads
        "write_pipelines": ["cdc_pipeline", "cdf_changes", "mv_refresh",
                            "time_travel_diff", "dv_pipeline",
                            "incremental_dedup", "skipping_read",
                            "pq_stream_ingest", "wal_cdc_pipeline"],
        # round-4 additions — subtract these when comparing totals to
        # BENCH_r03 and earlier
        "new_since_r3": sorted(
            n for n in timings
            if (n[0] == "q" and n[1].isdigit() and n not in
                ("q1_pricing_summary", "q6_forecast_revenue",
                 "q3_shipping_priority", "q5_local_supplier"))
            or n in ("incremental_dedup", "skipping_read")),
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
    }
    line = json.dumps(payload)
    print(line)
    # full non-truncated copy next to the repo (the driver's recorder
    # keeps only a 2000-char stdout tail; the complete per-query data
    # with the env columns stays reviewable here)
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as fh:
            fh.write(line + "\n")
    except OSError:
        pass  # read-only checkout: stdout line is still complete
    spark.stop()


def warmup(spark, sf_dir: str, cpus: str) -> None:
    """Pay the session's one-time costs before anything is timed:
    parquet footer caches, Python-worker spawn and the MERGE/CDF/commit
    code paths. bench.py and scripts/profile_query.py both call it."""
    # JVM + parquet footer caches
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    # Python/Arrow worker pool — the session's FIRST mapInPandas
    # pays ~6s of worker spawn + pandas import across cores, a one-time
    # session cost that would otherwise be charged to whichever query
    # touches Python first (multimodal_decode since the ANN queries
    # moved to pure SQL)
    spark.range(0, int(cpus), 1, int(cpus)).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode("overwrite").save()
    # MERGE/CDF/commit machinery — first execution of the merge
    # plan pays one-time JIT + whole-stage codegen (~8s observed), a
    # session cost that otherwise lands on whichever write pipeline
    # runs first (cdc_pipeline). A 100-row micro-merge JITs the same
    # code paths; the timed entries then measure the engine, not HotSpot
    import tempfile

    from pyspark.sql import functions as F  # noqa: N812
    from pyspark.sql.types import LongType, StructField, StructType

    from deltalake_poc_spark.tables import VersionedTable

    wroot = tempfile.mkdtemp(prefix="bench_warm_")
    wt = VersionedTable.create(
        spark, wroot, StructType([StructField("id", LongType()),
                                  StructField("v", LongType())]),
        properties={"enableChangeDataFeed": "true"})
    wt.write(spark.range(100).select(F.col("id"), F.col("id").alias("v")),
             "append")
    (wt.merge(spark.range(50, 150).select(F.col("id"),
                                          (F.col("id") * 2).alias("v")),
              on="id")
     .when_matched_update_all().when_not_matched_insert_all().execute())
    wt.read_change_feed(0).write.format("noop").mode("overwrite").save()


if __name__ == "__main__":
    from deltalake_poc_spark.cdc import pglive

    # wal_cdc_pipeline starts the shared PostgreSQL fixture on first use
    with pglive.stopped_after():
        main()
