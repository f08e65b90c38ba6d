"""The closed-loop harness shared by every workload, and the metrics
it reports.

A workload class sets ``min_ops`` and ``block``: a run measures for
``--seconds``, at least ``min_ops`` operations, and whole blocks of
``block`` operations, so a slow host shortens no run below the
operations its percentiles are taken over and a mixed workload always
serves its mix in whole. Its object provides ``setup()``,
``next_op(i)`` returning
``(op_class, callable)`` or None when its inputs are exhausted (the
callable returns the items it completed, or raises), and
``finish(timed_ops)`` returning its correctness verdict and storage
readings. The harness times set-up and each operation, and for a
traced run turns spans and the Spark event log into per-layer metrics.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import time

from perfbench import eventlog, host, stats
from perfbench.cdc import CDCMicrobatch
from perfbench.reads import LakehouseRead
from perfbench.trace import Tracer, union_length

WORKLOADS = {w.name: w for w in (CDCMicrobatch, LakehouseRead)}
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Op:
    def __init__(self, op_id: str, cls: str, start: float):
        self.op_id, self.cls, self.start = op_id, cls, start
        self.end = start
        self.items = 0
        self.error: str | None = None

    @property
    def latency(self) -> float:
        return self.end - self.start


def run(workload_cls, ctx, trace: int) -> tuple[dict, dict]:
    from perfbench.session import start_spark, stop_spark

    event_dir = os.path.join(ctx.work, "eventlog") if trace else None
    t0 = time.perf_counter()
    ctx.spark, sizing = start_spark(ctx.work, event_dir)
    try:
        ctx.phases["session"] = time.perf_counter() - t0
        wl = workload_cls(ctx)
        wl.setup()
        setup_s = time.perf_counter() - t0
        ops, wall, regime = _timed_loop(wl, ctx, trace)
        checked = wl.finish(ops)
        jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = host.vm_hwm_mb(jvm_pid) + host.vm_hwm_mb()
    finally:
        stop_spark(ctx.spark)

    failed = sum(o.error is not None for o in ops)
    lat = [o.latency for o in ops if o.error is None] or [o.latency for o in ops]
    summ = stats.summarize(lat)
    per_class = _per_class_latency(ops)
    report = {
        "workload": wl.name, "seed": ctx.seed, "seconds": ctx.seconds,
        "trace": trace, "sizing": sizing,
        "setup_s": setup_s, "setup_phases": ctx.phases, "wall_s": wall,
        "ops": len(ops),
        "failed_frac": failed / len(ops),
        "op_tail_pct": summ["tail_pct"], "op_samples": summ["n"],
        "peak_rss_mb": rss,
        "per_class": per_class,
        "op_latencies": [[o.cls, o.latency] for o in ops],
        "errors": sorted({o.error for o in ops if o.error})[:5],
        "host": regime, **checked,
    }
    correct = failed == 0 and not checked["mismatches"]
    results = os.path.join(os.path.dirname(ctx.work), "results")
    os.makedirs(results, exist_ok=True)
    this = {"seed": ctx.seed, "source": _source_digest(), "ops": len(ops),
            "wall_s": wall, "op_p50_s": summ["p50"]}
    with open(os.path.join(results, f"{wl.name}-trace{trace}.json"),
              "w") as fh:
        json.dump(this, fh)
    if trace:
        ctx.tracer.dump(os.path.join(results, f"{wl.name}-spans.jsonl"))
        layers, split = layer_metrics(ctx.tracer, ops, event_dir, checked)
        report["per_layer_by_class"] = split
        report["tracing_overhead"] = _overhead(
            this, os.path.join(results, f"{wl.name}-trace0.json"))
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in layers.items()}
    else:
        items = sum(o.items for o in ops if o.error is None)
        class_p50 = [c["p50_s"] for c in per_class.values()] or [summ["p50"]]
        values = {"setup_s": setup_s, "op_p50_s": summ["p50"],
                  "op_tail_s": summ["tail"],
                  "class_p50_geomean_s": math.exp(
                      sum(map(math.log, class_p50)) / len(class_p50)),
                  "throughput_per_s": items / wall}
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
    result = {"correct": correct, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    return report, result


def _timed_loop(wl, ctx, trace: int) -> tuple[list[Op], float, dict]:
    """Closed loop: the next operation starts when the previous one has
    returned. Returns the operations, the timed wall time and the host
    interference over it."""
    from perfbench.tracing import install

    if trace:
        ctx.tracer = Tracer()
        install(ctx.tracer)
    sc = ctx.spark.sparkContext
    interference = host.Interference()
    interference.start()
    ops: list[Op] = []
    t_start = time.time()
    while (time.time() - t_start < ctx.seconds
           or len(ops) < wl.min_ops or len(ops) % wl.block):
        nxt = wl.next_op(len(ops))
        if nxt is None:
            break
        cls, fn = nxt
        op = Op(f"op{len(ops):05d}", cls, time.time())
        sc.setJobGroup(op.op_id, cls)
        if ctx.tracer is not None:
            ctx.tracer.op = op.op_id
        try:
            op.items = fn()
        except Exception as e:  # a failed operation is counted, not fatal
            op.error = f"{type(e).__name__}: {e}"
        op.end = time.time()
        ops.append(op)
    if ctx.tracer is not None:
        ctx.tracer.op = None
    sc.setLocalProperty("spark.jobGroup.id", None)
    return ops, max(o.end for o in ops) - t_start, interference.stop()


def _source_digest() -> str:
    """Digest of the engine's and the benchmark's Python sources."""
    h = hashlib.sha256()
    for f in sorted([*glob.glob(os.path.join(ROOT, "*.py")),
                     *glob.glob(os.path.join(ROOT, "deltalake_poc_spark",
                                             "**", "*.py"), recursive=True),
                     *glob.glob(os.path.join(ROOT, "perfbench", "*.py"))]):
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def _overhead(traced: dict, untraced_path: str) -> dict:
    """Traced minus untraced timed wall time, against the last untraced
    run of the workload in this checkout, when that run had the same
    seed, the same sources and the same number of operations."""
    base = {}
    if os.path.exists(untraced_path):
        with open(untraced_path) as fh:
            base = json.load(fh)
    if any(base.get(k) != traced[k] for k in ("seed", "source", "ops")):
        return {"traced_wall_s": traced["wall_s"], "overhead_s": None,
                "why": "no untraced run with this seed, sources and "
                       "operation count in this checkout"}
    return {"traced_wall_s": traced["wall_s"],
            "untraced_wall_s": base["wall_s"],
            "overhead_s": traced["wall_s"] - base["wall_s"],
            "overhead_frac": traced["wall_s"] / base["wall_s"] - 1,
            "traced_op_p50_s": traced["op_p50_s"],
            "untraced_op_p50_s": base["op_p50_s"]}


def _per_class_latency(ops: list[Op]) -> dict:
    out = {}
    for cls in sorted({o.cls for o in ops}):
        lat = [o.latency for o in ops if o.cls == cls and o.error is None]
        if lat:
            s = stats.summarize(lat)
            out[cls] = {"p50_s": s["p50"], "tail_s": s["tail"],
                        "tail_pct": s["tail_pct"], "n": s["n"]}
    return out


# ----------------------------------------------------------- per layer

UNITS = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "class_p50_geomean_s": "s", "throughput_per_s": "1/s",
    "streaming.trigger_s": "s", "streaming.overhead_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "tables.log.write_commit_s": "s", "tables.log.snapshot_s": "s",
    "tables.log.checkpoints": "count",
    "cdc.apply.s": "s", "cdc.apply.self_s": "s",
    "tables.merge.s": "s", "tables.merge.touched_frac": "ratio",
    "tables.merge.copy_amp": "ratio",
    "tables.write.s": "s", "tables.write.files_added": "count",
    "tables.write.bytes_added": "bytes",
    "tables.read.plan_s": "s", "tables.read.skip_frac": "ratio",
    "tables.cdf.plan_s": "s",
    "analytics.construct_s": "s", "analytics.exec_s": "s",
    "pipeline.construct_s": "s", "pipeline.exec_s": "s",
    "lake.write_amp": "ratio", "lake.space_amp": "ratio",
}
PER_OP_SPANS = {  # metric -> span name, summed per operation
    "cdc.apply.s": "cdc.apply", "tables.merge.s": "tables.merge",
    "tables.write.s": "tables.write",
    "tables.log.write_commit_s": "tables.log.write_commit",
    "tables.log.snapshot_s": "tables.log.snapshot",
    "tables.read.plan_s": "tables.read", "tables.cdf.plan_s": "tables.cdf",
    "analytics.construct_s": "analytics.construct",
    "analytics.exec_s": "analytics.exec",
    "pipeline.construct_s": "pipeline.construct",
    "pipeline.exec_s": "pipeline.exec",
    "streaming.trigger_s": "streaming.trigger",
}
SPARK_COUNTERS = {"spark.jobs": "jobs", "spark.stages": "stages",
                  "spark.tasks": "tasks",
                  "spark.input_bytes": "input_bytes",
                  "spark.output_bytes": "output_bytes",
                  "spark.shuffle_write_bytes": "shuffle_write_bytes",
                  "spark.shuffle_read_bytes": "shuffle_read_bytes",
                  "spark.spill_bytes": "spill_bytes",
                  "spark.executor_cpu_s": "executor_cpu_s",
                  "spark.gc_s": "gc_s"}
END_TO_END = ("setup_s", "op_p50_s", "op_tail_s", "class_p50_geomean_s",
              "throughput_per_s")
# class splits reported in the result line (all splits go to the report)
SPLIT_METRICS = ("tables.read.plan_s", "spark.jobs", "spark.driver_gap_s")
SPLIT_CLASSES = ("tpch", "time_travel", "point", "cdf", "corpus", "trigger")
SPLITS = [f"{m}.{c}" for m in SPLIT_METRICS for c in SPLIT_CLASSES]
PER_LAYER = [m for m in UNITS if m not in END_TO_END] + SPLITS
UNITS.update({n: UNITS[n.rsplit(".", 1)[0]] for n in SPLITS})


def layer_metrics(tracer: Tracer, ops: list[Op], event_dir: str,
                  checked: dict) -> tuple[dict, dict]:
    """Per-layer metrics over the timed operations: times and counts as
    the mean per operation (a layer used by one class of a mix still
    shows), fractions as ratios of sums; also each one split by
    operation class."""
    elog = eventlog.parse(eventlog.find_log(event_dir))
    windows = {o.op_id: (o.start, o.end) for o in ops}

    def assign(job: eventlog.Job) -> str | None:
        if job.group in windows:
            return job.group
        t = job.submit_ms / 1000
        return next((k for k, (s, e) in windows.items() if s <= t <= e), None)

    spark_ops = elog.per_op(assign)
    per_op: dict[str, dict[str, float]] = {}
    for o in ops:
        d = {m: sum(s.duration for s in tracer.by_name(n, {o.op_id}))
             for m, n in PER_OP_SPANS.items()}
        d["cdc.apply.self_s"] = sum(
            tracer.self_time(s) for s in tracer.by_name("cdc.apply", {o.op_id}))
        d["streaming.overhead_s"] = (d["streaming.trigger_s"] - d["cdc.apply.s"]
                                     if d["streaming.trigger_s"] else 0.0)
        st = spark_ops.get(o.op_id, eventlog.OpStats())
        for m, c in SPARK_COUNTERS.items():
            d[m] = st.counters[c]
        d["spark.driver_gap_s"] = o.latency - union_length(
            st.intervals, o.start, o.end)
        writes = tracer.by_name("tables.write", {o.op_id})
        d["tables.write.files_added"] = sum(s.counts.get("files", 0)
                                            for s in writes)
        d["tables.write.bytes_added"] = sum(s.counts.get("bytes", 0)
                                            for s in writes)
        per_op[o.op_id] = d

    def ratios(op_ids: set[str]) -> dict[str, float]:
        merges = tracer.by_name("tables.merge", op_ids)
        reads = tracer.by_name("tables.read", op_ids)
        return {
            "tables.merge.touched_frac": _ratio(merges, "files_removed",
                                                "files_before"),
            "tables.merge.copy_amp": _ratio(merges, "rows_copied",
                                            "rows_changed"),
            "tables.read.skip_frac": 1 - _ratio(reads, "files_scanned",
                                                "files_total", default=1.0),
            "tables.log.checkpoints": float(len(
                tracer.by_name("tables.log.checkpoint", op_ids))),
        }

    def summarize(op_list: list[Op]) -> dict[str, float]:
        keys = next(iter(per_op.values())).keys()
        out = {k: sum(per_op[o.op_id][k] for o in op_list) / len(op_list)
               for k in keys}
        out.update(ratios({o.op_id for o in op_list}))
        return out

    overall = summarize(ops)
    overall["lake.write_amp"] = checked.get("write_amp", 0.0)
    overall["lake.space_amp"] = checked.get("space_amp", 0.0)
    split = {cls: summarize([o for o in ops if o.cls == cls])
             for cls in sorted({o.cls for o in ops})}
    for n in SPLITS:
        m, c = n.rsplit(".", 1)
        overall[n] = split.get(c, {}).get(m, 0.0)
    return {k: overall[k] for k in PER_LAYER}, split


def _ratio(spans, num: str, den: str, default: float = 0.0) -> float:
    d = sum(s.counts.get(den, 0) for s in spans)
    return sum(s.counts.get(num, 0) for s in spans) / d if d else default
