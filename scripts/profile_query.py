#!/usr/bin/env python3
"""Profile one or more registered queries: per-job wall clock from the
Spark event log, plus end-to-end reps — isolates WHERE a query's bench
seconds go (scheduling, planning gaps, specific jobs).

Usage: python3 scripts/profile_query.py <query>[,<query>...] [reps]

Prints, per query: rep walls, then for the LAST rep the job timeline
(duration, gap since previous job end, tasks run, job id). Each rep
runs under its own job group, and the event log is read with
perfbench.eventlog. Job time = cluster work: the union of the job
intervals inside the rep (AQE runs jobs concurrently, so a per-job gap
can be negative); driver gap = the rep wall minus that union
(planning, commit bookkeeping, collects).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog  # noqa: E402
from perfbench.trace import union_length  # noqa: E402

EVDIR = "/tmp/spark_graft_eventlogs"
PREFIX = "__PROF__"  # job group of every timed rep


def main() -> None:
    names = sys.argv[1].split(",")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)

    from deltalake_poc_spark.session import EngineConfig, get_spark
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark(EngineConfig(
        app_name="profile", master=f"local[{cpus}]",
        shuffle_partitions=int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)),
        extra_conf={"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": EVDIR,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false"},
    ))
    import __spark_entry__ as entrymod
    qs = dict(entrymod.queries())
    qs.update(entrymod.bench_extra_queries())

    from bench import warmup
    warmup(spark, sf_dir, cpus)

    sc = spark.sparkContext
    results = {}
    for name in names:
        fn = qs[name]
        walls = []
        marks = []
        for r in range(reps):
            sc.setJobGroup(_group(name, r), _group(name, r))
            t0 = time.perf_counter(); e0 = time.time()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            walls.append(round(time.perf_counter() - t0, 3))
            marks.append((e0 * 1000, time.time() * 1000))
        for k in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(k, None)
        results[name] = (walls, marks)
        print(f"{name}: walls={walls}", flush=True)

    spark.stop()

    log = eventlog.parse(eventlog.find_log(EVDIR))
    done = [j for j in log.jobs.values() if j.end_ms]
    for name, (walls, marks) in results.items():
        print(f"\n=== {name} (last rep wall {walls[-1]}s) ===")
        tag = _group(name, reps - 1)
        lo, hi = marks[-1]
        # plus jobs run inside the rep's wall window without a rep's
        # job group (one set by the query itself)
        sel = [j for j in done if j.group == tag
               or (not (j.group or "").startswith(PREFIX)
                   and lo <= j.submit_ms <= hi)]
        if n_other := sum(j.group != tag for j in sel):
            print(f"  ({n_other} jobs inside the rep window carry other "
                  "job groups)")
        prev_end = None
        for j in sorted(sel, key=lambda j: j.submit_ms):
            dur = (j.end_ms - j.submit_ms) / 1000
            gap = ((j.submit_ms - prev_end) / 1000
                   if prev_end is not None else 0.0)
            tasks = sum(log.stage_tasks.get(s, {}).get("tasks", 0)
                        for s in j.stages)
            other = "" if j.group == tag else f" group {j.group}"
            print(f"  job {dur*1000:7.0f}ms gap {gap*1000:6.0f}ms "
                  f"tasks {tasks:4.0f} id {j.job_id}{other}")
            prev_end = j.end_ms
        job_s, gap_s = rep_split(sel, lo, hi)
        print(f"  job={job_s:.2f}s driver_gap={gap_s:.2f}s "
              f"wall={walls[-1]}s jobs={len(sel)}")


def rep_split(jobs, lo_ms: float, hi_ms: float) -> tuple[float, float]:
    """(job, driver gap) seconds of the rep window [lo_ms, hi_ms]: job
    time is the union of the jobs' [submit, end] intervals clipped to
    the window, so overlapping jobs count once; the driver gap is the
    rest of the window. Neither exceeds the wall."""
    job = union_length([(j.submit_ms, j.end_ms) for j in jobs],
                       lo_ms, hi_ms) / 1000
    return job, (hi_ms - lo_ms) / 1000 - job


def _group(name: str, rep: int) -> str:
    return f"{PREFIX}{name}__rep{rep}"


if __name__ == "__main__":
    main()
