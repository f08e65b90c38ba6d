"""CDC micro-batch workload: Debezium topics for the four reference
domain tables fed through ``CDCStreamRunner`` one batch file per
trigger.

The client is closed-loop: it publishes the next batch file into the
stream's source directory only after the previous trigger's commit is
readable, and times each operation from the publish until the audit
table's log shows the new version.
"""

from __future__ import annotations

import math
import os

import duckdb

from perfbench import gen, oracle
from perfbench.lake import dir_bytes, live_bytes

TABLES = ("customers", "products", "orders", "order_items")


class CDCMicrobatch:
    name = "cdc_microbatch"
    min_ops = 2
    block = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spec = gen.TopicSpec(
            tables=TABLES, batches=self._batches(ctx.seconds),
            events_per_batch=250, initial_keys=2_000, snapshot_batch=True)

    @staticmethod
    def _batches(seconds: float) -> int:
        # enough batches for a trigger 12x faster than today's ~6 s
        return 3 + math.ceil(seconds / 0.5)

    # ------------------------------------------------------------ setup

    def setup(self) -> None:
        from deltalake_poc_spark.cdc.apply import CDCApplier
        from deltalake_poc_spark.streaming.runner import CDCStreamRunner

        c = self.ctx
        self.lake = os.path.join(c.work, "lake")
        self.src = os.path.join(c.work, "source")
        os.makedirs(self.src)
        with c.phase("generate"):
            plan = gen.plan_events(self.spec, c.seed)
            self.pending = gen.write_topic(c.spark, self.spec, plan,
                                           os.path.join(c.work, "staging"),
                                           c.work)
            self.payload = _payload_bytes(self.pending)
        self.applied: list[str] = []
        self.applier = CDCApplier(c.spark, self.lake)
        self.runner = CDCStreamRunner(
            c.spark, self.applier, os.path.join(self.lake, "_checkpoints"),
            trigger_seconds=0)
        self.query = self.runner.start(
            self.runner.file_source(self.src, max_files_per_trigger=1))
        with c.phase("snapshot_batch"):
            # the warm-up: one trigger through every table's merge (JIT,
            # codegen) that also loads the initial keys
            self.audit_version = self._trigger()
        self.bytes_before = dir_bytes(self.lake)

    def _trigger(self) -> int:
        from deltalake_poc_spark.tables import VersionedTable

        f = self.pending.pop(0)
        dst = os.path.join(self.src, os.path.basename(f))
        os.rename(f, dst)
        self.applied.append(dst)
        self.query.processAllAvailable()
        if self.query.exception() is not None:
            raise RuntimeError(str(self.query.exception()))
        if self.ctx.tracer is not None:
            self._record_trigger()
        # the committed version is readable from a fresh handle
        audit = VersionedTable.for_path(self.ctx.spark,
                                        os.path.join(self.lake, "cdc_events"))
        return audit.version()

    def _record_trigger(self) -> None:
        """The trigger Spark just ran, as a span timed by Spark's own
        progress report (StreamingQueryProgress.durationMs)."""
        from datetime import datetime

        prog = [p for p in self.query.recentProgress if p["numInputRows"] > 0]
        if prog:
            p = prog[-1]
            start = datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp()
            dur = p["durationMs"]["triggerExecution"] / 1000
            self.ctx.tracer.record("streaming.trigger", start, start + dur,
                                   {"batch_id": p["batchId"]})

    # -------------------------------------------------------------- ops

    def next_op(self, i: int):
        if not self.pending:
            return None
        n = self.payload[os.path.basename(self.pending[0])][0]

        def op():
            v = self._trigger()
            if v <= self.audit_version:  # each batch commits to the audit
                raise RuntimeError(f"no audit commit after version {v}")
            self.audit_version = v
            return n
        return "trigger", op

    # ------------------------------------------------------------ check

    def finish(self, timed_ops: list) -> dict:
        """Stop the stream, compare every snapshot table and the audit
        table with the DuckDB model, and measure the lake."""
        self.runner.stop_all()
        con = duckdb.connect()
        oracle.messages_view(con, self.applied)
        mismatches = {}
        for t in TABLES:
            got = _snapshot_arrow(self.applier.snapshot_table(t), self.spec, t)
            con.register("got", got)
            con.execute(f"CREATE OR REPLACE TEMP VIEW exp AS "
                        f"{oracle.expected_snapshot_sql(self.spec, t)}")
            miss, extra = oracle.diff_counts(con, "exp", "got")
            con.unregister("got")
            if miss or extra:
                mismatches[t] = {"missing": miss, "extra": extra}
        audit = self.applier.audit_table()
        n_audit = audit.read().count()
        n_msgs = con.execute("SELECT count(*) FROM msgs").fetchone()[0]
        n_ids = len(self.applier.applied_batch_ids())
        if n_audit != n_msgs:
            mismatches["audit_rows"] = {"got": n_audit, "expected": n_msgs}
        if n_ids != len(self.applied):
            mismatches["audit_batch_ids"] = {"got": n_ids,
                                             "expected": len(self.applied)}
        con.close()
        timed = self.applied[len(self.applied) - len(timed_ops):]
        payload = sum(self.payload[os.path.basename(f)][1] for f in timed)
        tables = [self.applier.snapshot_table(t) for t in TABLES] + [audit]
        on_disk = sum(dir_bytes(t.log.root) for t in tables)
        return {
            "mismatches": mismatches,
            "write_amp": ((dir_bytes(self.lake) - self.bytes_before) / payload
                          if payload else 0.0),
            "space_amp": on_disk / sum(live_bytes(t) for t in tables),
            "params": self.spec.params(),
            "batches_applied": len(self.applied),
        }


def _payload_bytes(files: list[str]) -> dict[str, tuple[int, int]]:
    """Per batch file: (messages, bytes of Debezium message values)."""
    con = duckdb.connect()
    lst = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    rows = con.execute(f"""
        SELECT filename, count(*), sum(length(value))
        FROM read_json({lst}, format = 'newline_delimited', filename = true,
                       columns = {{value: 'VARCHAR'}})
        GROUP BY filename""").fetchall()
    con.close()
    return {os.path.basename(f): (int(n), int(b)) for f, n, b in rows}


def _snapshot_arrow(table, spec: gen.TopicSpec, name: str):
    """The engine's current snapshot of ``name`` in the oracle's column
    order, timestamps as epoch microseconds."""
    from pyspark.sql import functions as F

    times = set(oracle.time_columns(spec, name))
    df = table.read().select(*[
        F.unix_micros(c).alias(c) if c in times else F.col(c)
        for c in oracle.snapshot_columns(spec, name)])
    return df.toArrow()
