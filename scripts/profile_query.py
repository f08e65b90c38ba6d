#!/usr/bin/env python3
"""Profile one or more registered queries: per-job wall clock from the
Spark event log, plus end-to-end reps — isolates WHERE a query's bench
seconds go (scheduling, planning gaps, specific jobs).

Usage: python3 scripts/profile_query.py <query>[,<query>...] [reps]

Prints, per query: rep walls, then for the LAST rep the job timeline
(job id, duration, gap since previous job end, #tasks, description).
Gaps between jobs = driver-side work (planning, commit bookkeeping,
collects); job time = cluster work.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/spark_graft_eventlogs"


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
                    "spark.eventLog.compress": "false"},
    ))
    import __spark_entry__ as entrymod
    qs = dict(entrymod.queries())
    qs.update(entrymod.bench_extra_queries())

    from bench import warmup
    warmup(spark, sf_dir, cpus)

    results = {}
    for name in names:
        fn = qs[name]
        walls = []
        marks = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"__PROF__{name}__rep{r}")
            t0 = time.perf_counter(); e0 = time.time()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            walls.append(round(time.perf_counter() - t0, 3))
            marks.append((e0, time.time()))
        spark.sparkContext.setJobDescription(None)
        results[name] = (walls, marks)
        print(f"{name}: walls={walls}", flush=True)

    spark.stop()

    # parse the event log: jobs with submit/complete times + descriptions
    evfiles = []
    for root, _dirs, files in os.walk(EVDIR):
        evfiles.extend(os.path.join(root, f) for f in files
                       if "events" in f or f.startswith("local-"))
    evf = max(evfiles, key=os.path.getmtime)
    jobs = {}
    stage_tasks = {}
    with open(evf) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"] / 1000.0,
                    "desc": props.get("spark.job.description", "")[:110],
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    "ntask": sum(s.get("Number of Tasks", 0)
                                 for s in ev.get("Stage Infos", [])),
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stage_tasks[si["Stage ID"]] = si.get("Number of Tasks", 0)

    for name, (walls, marks) in results.items():
        print(f"\n=== {name} (last rep wall {walls[-1]}s) ===")
        tag = f"__PROF__{name}__rep{reps-1}"
        sel = sorted((j for j in jobs.values()
                      if j.get("desc", "").startswith(tag) and "t1" in j),
                     key=lambda j: j["t0"])
        lo, hi = marks[-1]
        win = sorted((j for j in jobs.values()
                      if "t1" in j and j["t0"] >= lo - 0.2
                      and j["t0"] <= hi + 0.2), key=lambda j: j["t0"])
        if len(win) > len(sel):
            print(f"  ({len(win)-len(sel)} jobs inside the rep window carry "
                  "other descriptions — using the time window)")
            sel = win
        prev_end = None
        tot_job = 0.0
        tot_gap = 0.0
        for j in sel:
            dur = j["t1"] - j["t0"]
            gap = (j["t0"] - prev_end) if prev_end is not None else 0.0
            tot_job += dur
            tot_gap += max(gap, 0)
            print(f"  job {dur*1000:7.0f}ms gap {gap*1000:6.0f}ms "
                  f"tasks {j['ntask']:4d} {j['desc'][len(tag):][:80]}")
            prev_end = j["t1"]
        print(f"  sum(job)={tot_job:.2f}s sum(gap)={tot_gap:.2f}s "
              f"wall={walls[-1]}s jobs={len(sel)}")


if __name__ == "__main__":
    main()
