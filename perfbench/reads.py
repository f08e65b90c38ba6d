"""Lakehouse read workload: a seeded, fixed mix of read operations
over tables built through the write path.

Set-up loads TPC-H-shaped tables into ``VersionedTable``s, then drives
a CDC history on ``orders`` through ``CDCApplier.apply_batch`` (CDF
on, with a log checkpoint part-way), and generates a text corpus and
an embedding set. The timed client then serves, in fixed blocks:

- ``tpch``: the registry's TPC-H builders over the tables as of their
  load version;
- ``time_travel``: ``read`` of ``orders`` by version and by timestamp;
- ``cdf``: ``read_change_feed`` over a version range;
- ``point``: ``read(where="o_orderkey = k")`` at the latest version;
- ``corpus``: the registry's dedup/clustering builders (``pipeline/``).

Every result is compared with DuckDB: the registry's oracle SQL for
``tpch``/``corpus``, and the latest-event-per-key model over the same
topic files for the ``orders`` history.
"""

from __future__ import annotations

import contextlib
import os

import duckdb
import numpy as np

from perfbench import gen, oracle

SF = 0.02
HISTORY_BATCHES = 2
HISTORY_EVENTS = 2_000
CHECKPOINT_AFTER = 1  # history batches before the explicit checkpoint
CORPUS = (1_000, 1_000)  # documents, embeddings
CORPUS_BUILDERS = ("minhash_dedup", "kmeans_clusters")
# The operation sequence is the same for every seed (the seed changes
# the data, keys, versions and ranges): a run of fixed length then
# serves the same mix, so its latency percentiles compare across seeds.
# Classes by latency today: point < time_travel < cdf < tpch < corpus;
# with 2/2/2/3/1 per block and four blocks a run, the median falls
# inside the cdf class and the tail (p75 of 40) inside the tpch class.
BLOCK = ("point", "time_travel", "tpch", "cdf", "point", "tpch",
         "time_travel", "corpus", "cdf", "tpch")
# TPC-H shapes in an order that mixes scan, join and subquery shapes
TPCH = ("q1", "q3", "q5", "q6", "q9", "q13", "q18", "q21", "q2", "q4",
        "q7", "q8", "q10", "q11", "q12", "q14", "q15", "q16", "q17", "q19",
        "q20", "q22")
CDF_SPAN = 2  # merge versions per change-feed read
ORDERS_FILES = 8


class LakehouseRead:
    name = "lakehouse_read"
    block = len(BLOCK)
    min_ops = 4 * block

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)

    # ------------------------------------------------------------ setup

    def setup(self) -> None:
        import __spark_entry__ as registry

        c, spark = self.ctx, self.ctx.spark
        self.data = os.path.join(c.work, "data")
        lake = os.path.join(c.work, "lake")
        with c.phase("generate"):
            tpch = gen.tpch_tables(SF, c.seed)
            gen.write_parquet(tpch, self.data)
            gen.write_parquet(gen.corpus_tables(*CORPUS, c.seed), self.data)
        self.spec = gen.TopicSpec(
            tables=("orders",), batches=HISTORY_BATCHES,
            events_per_batch=HISTORY_EVENTS,
            initial_keys=tpch["orders"].num_rows, column_set="tpch")
        with c.phase("load"):
            self._load(spark, lake, tpch)
        with c.phase("history"):
            self._history(spark)
        # registry builders read lake tables as of their load version
        orig_load = registry.load_table

        def load_table(spark_, sf_dir, name):
            if name in self.tables:
                return self.tables[name].read(version=self.load_version[name])
            return orig_load(spark_, self.data, name)

        registry.load_table = load_table
        self.registry = registry.queries()
        with c.phase("oracle"):
            self._expected(registry, self.load_version["orders"] + 1)
        self.counts = dict.fromkeys(BLOCK, 0)
        with c.phase("warmup"):
            # one operation of each class (JIT, codegen, Python workers)
            for cls in sorted(set(BLOCK)):
                self._make(cls)[1]()
        self.counts = dict.fromkeys(BLOCK, 0)

    def _load(self, spark, lake: str, tpch: dict) -> None:
        """Every table through VersionedTable.write; ``orders`` as the
        CDC applier's snapshot table, range-partitioned into files."""
        from pyspark.sql import functions as F

        from deltalake_poc_spark.cdc.apply import CDCApplier
        from deltalake_poc_spark.tables import VersionedTable

        self.tables: dict[str, VersionedTable] = {}
        for name in tpch:
            if name == "orders":
                continue
            df = spark.read.parquet(os.path.join(self.data, f"{name}.parquet"))
            t = VersionedTable.create(spark, os.path.join(lake, name), df.schema)
            t.write(df)
            self.tables[name] = t
        self.applier = CDCApplier(
            spark, lake, table_schemas={"orders": _tpch_orders_schema()},
            key_col="o_orderkey")
        orders = self.applier.snapshot_table("orders")
        src = spark.read.parquet(os.path.join(self.data, "orders.parquet"))
        orders.write(src.select(
            *[F.col(f).cast("timestamp") if f == "o_orderdate" else F.col(f)
              for f in src.columns],
            F.lit("r").alias("__cdc_operation"),
            F.lit(gen.EPOCH_2024_US).cast("long").cast("timestamp")
            .alias("__cdc_timestamp"),
            F.current_timestamp().alias("__processed_at"),
        ).repartitionByRange(ORDERS_FILES, "o_orderkey"))
        self.tables["orders"] = orders
        self.load_version = {n: t.version() for n, t in self.tables.items()}

    def _history(self, spark) -> None:
        """CDC history on orders through apply_batch, CDF on, with a log
        checkpoint part-way so later reads replay from it."""
        from deltalake_poc_spark.cdc.parse import parse_debezium
        from deltalake_poc_spark.streaming.runner import RAW_MESSAGE_DDL

        work = self.ctx.work
        orders = self.tables["orders"]
        plan = gen.plan_events(self.spec, self.ctx.seed)
        self.topic = gen.write_topic(spark, self.spec, plan,
                                     os.path.join(work, "topic"), work)
        for i, f in enumerate(self.topic):
            events = parse_debezium(spark.read.schema(RAW_MESSAGE_DDL).json(f))
            self.applier.apply_batch(events, batch_id=f"history-{i}")
            if i + 1 == CHECKPOINT_AFTER:
                orders.log.write_checkpoint(orders.snapshot())
        self.versions = list(range(self.load_version["orders"],
                                   orders.version() + 1))
        self.commit_ts = {v: orders.log.read_commit(v).timestamp
                          for v in self.versions}

    def _expected(self, registry, first_merge_version: int) -> None:
        """DuckDB results for every operation the mix can draw."""
        con = duckdb.connect()
        for f in os.listdir(self.data):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.data, f)}')")
        sqls = _registry_oracles(registry, self.ctx.work)
        self.names = {q: next(n for n in self.registry if n.startswith(q + "_"))
                      for q in TPCH}
        self.expect = {n: con.execute(sqls[n]).df()
                       for n in [*self.names.values(), *CORPUS_BUILDERS]}
        # orders state after each version, and each merge's changes
        self.state_agg, self.cdf_expect = {}, {}
        con.execute("CREATE VIEW orders_base AS "
                    "SELECT *, 'r' AS __cdc_operation FROM orders")
        con.execute("CREATE TABLE s0 AS SELECT * FROM orders")
        prev = "s0"
        self.state_agg[self.load_version["orders"]] = _agg(con, prev)
        for i in range(len(self.topic)):
            v = first_merge_version + i
            oracle.messages_view(con, self.topic[: i + 1])
            con.execute(f"CREATE TABLE s{i + 1} AS "
                        + _as_orders(oracle.expected_snapshot_sql(
                            self.spec, "orders", base="orders_base")))
            oracle.messages_view(con, [self.topic[i]], "m1")
            self.cdf_expect[v] = _changes(con, prev, "m1")
            prev = f"s{i + 1}"
            self.state_agg[v] = _agg(con, prev)
        self.final = con.execute(
            f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            f"epoch_us(o_orderdate) AS o_orderdate, o_orderpriority "
            f"FROM {prev}").df().set_index("o_orderkey", drop=False)
        touched = con.execute(
            "SELECT DISTINCT CAST(coalesce(json_extract(after, '$.o_orderkey'),"
            " json_extract(before, '$.o_orderkey')) AS BIGINT) FROM msgs"
        ).fetchnumpy()
        keys = np.concatenate([next(iter(touched.values())),
                               self.rng.integers(0, self.spec.initial_keys, 64)])
        self.point_keys = list(self.rng.permutation(np.unique(keys)))
        con.close()

    # -------------------------------------------------------------- ops

    def next_op(self, i: int):
        return self._make(BLOCK[i % len(BLOCK)])

    def _make(self, cls: str):
        n = self.counts[cls]
        self.counts[cls] += 1
        if cls == "tpch":
            name = self.names[TPCH[n % len(TPCH)]]
            return cls, lambda: self._query(name, "analytics")
        if cls == "corpus":
            name = CORPUS_BUILDERS[n % len(CORPUS_BUILDERS)]
            return cls, lambda: self._query(name, "pipeline")
        if cls == "time_travel":
            v = int(self.rng.choice(self.versions))
            by_ts = n % 2 == 1
            return cls, lambda: self._time_travel(v, by_ts)
        if cls == "cdf":
            merges = sorted(self.cdf_expect)
            a = int(self.rng.choice(merges[: len(merges) - CDF_SPAN + 1]))
            return cls, lambda: self._cdf(a, a + CDF_SPAN - 1)
        k = int(self.point_keys[n % len(self.point_keys)])
        return cls, lambda: self._point(k)

    def _query(self, name: str, layer: str) -> int:
        tr = self.ctx.tracer

        def span(what: str):
            return tr.span(f"{layer}.{what}") if tr else contextlib.nullcontext()

        with span("construct"):
            df = self.registry[name](self.ctx.spark, self.data)
        with span("exec"):
            got = df.toPandas()
        _require(oracle.same_result(got, self.expect[name]), name)
        return 1

    def _time_travel(self, v: int, by_ts: bool) -> int:
        from pyspark.sql import functions as F

        t = self.tables["orders"]
        df = (t.read(timestamp_ms=self.commit_ts[v]) if by_ts
              else t.read(version=v))
        row = df.agg(*[F.expr(e) for e in _state_exprs(
            f"unix_micros(o_orderdate) div {gen.US_PER_DAY}")]).collect()[0]
        _require(tuple(int(x or 0) for x in row) == self.state_agg[v],
                 f"orders@{v}")
        return 1

    def _cdf(self, a: int, b: int) -> int:
        from pyspark.sql import functions as F

        rows = (self.tables["orders"].read_change_feed(a, b)
                .groupBy("_change_type")
                .agg(F.count(F.lit(1)), F.sum("o_orderkey"),
                     F.sum(F.expr(CENTS))).collect())
        got = {r[0]: tuple(int(x) for x in r[1:]) for r in rows}
        want: dict[str, tuple[int, ...]] = {}
        for v in range(a, b + 1):
            for ct, x in self.cdf_expect[v].items():
                want[ct] = tuple(map(sum, zip(want.get(ct, (0, 0, 0)), x)))
        _require(got == {k: x for k, x in want.items() if x[0]},
                 f"cdf {a}..{b}")
        return 1

    def _point(self, k: int) -> int:
        from pyspark.sql import functions as F

        cols = list(self.final.columns)
        rows = (self.tables["orders"].read(where=f"o_orderkey = {k}")
                .select(*[F.unix_micros(c).alias(c) if c == "o_orderdate"
                          else F.col(c) for c in cols]).collect())
        want = ([tuple(self.final.loc[k, cols].tolist())]
                if k in self.final.index else [])
        _require([tuple(r) for r in rows] == want, f"point {k}")
        return 1

    def finish(self, timed_ops) -> dict:
        return {"mismatches": {}, "params": {
            "sf": SF, "corpus": CORPUS, "block": BLOCK,
            "history": self.spec.params(), "versions": self.versions}}


# ------------------------------------------------------------ helpers


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise AssertionError(f"result differs from the DuckDB oracle: {what}")


def _tpch_orders_schema():
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    return StructType([
        StructField("o_orderkey", LongType()), StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate", TimestampType()),
        StructField("o_orderpriority", StringType())])


def _registry_oracles(registry, work: str) -> dict[str, str]:
    """The registry's DuckDB SQL. Its two fixture helpers (a reference
    Delta table and a deletion-vector table outside this run's
    directory) serve queries this benchmark does not run, so they are
    stubbed while the SQL is built."""
    saved = {n: getattr(registry, n) for n in
             ("_delta_oracle_filesets", "_dv_fixture_root")
             if hasattr(registry, n)}
    registry._delta_oracle_filesets = lambda root: ("[]",) * 4
    registry._dv_fixture_root = lambda: os.path.join(work, "unused")
    try:
        return registry.oracle_sql()
    finally:
        for n, f in saved.items():
            setattr(registry, n, f)


def _as_orders(snapshot_sql: str) -> str:
    """Expected-snapshot rows back in the TPC-H orders shape."""
    return (f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            f"make_timestamp(o_orderdate) AS o_orderdate, o_orderpriority "
            f"FROM ({snapshot_sql})")


CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"


def _state_exprs(day: str) -> list[str]:
    """Aggregates, in SQL both engines read, that pin an ``orders``
    state: row count and key sum, a key-weighted sum of each value
    column (a value moved to another row changes it), and the key sum
    of the rows holding each status and priority value. ``day`` is the
    engine's expression for ``o_orderdate`` in days."""
    return ["count(*)", "sum(o_orderkey)", "sum(o_orderkey * o_custkey)",
            f"sum(o_orderkey * {CENTS})", f"sum(o_orderkey * ({day}))",
            *[f"sum(CASE WHEN {c} = '{v}' THEN o_orderkey + 1 ELSE 0 END)"
              for c, values in (("o_orderstatus", gen.FLAGS),
                                ("o_orderpriority", gen.PRIORITIES))
              for v in values]]


def _agg(con, rel: str) -> tuple[int, ...]:
    exprs = _state_exprs(f"epoch_us(o_orderdate) // {gen.US_PER_DAY}")
    row = con.execute(f"SELECT {', '.join(exprs)} FROM {rel}").fetchone()
    return tuple(int(x or 0) for x in row)


def _changes(con, prev: str, msgs: str) -> dict[str, tuple[int, int, int]]:
    """Change-feed rows one merge should emit: (count, sum of keys, sum
    of price cents) per change type, from the state before it and the
    batch's latest event per key. Inserts and postimages carry the
    event's values; deletes and preimages the row they replace."""
    latest = f"""
        SELECT k, op, c FROM (
            SELECT k, op, c,
                   row_number() OVER (PARTITION BY k
                                      ORDER BY lsn DESC, off DESC) rn
            FROM (SELECT CAST(coalesce(json_extract(after, '$.o_orderkey'),
                                       json_extract(before, '$.o_orderkey'))
                              AS BIGINT) AS k, op, lsn, off,
                         CAST(round(CAST(json_extract(after, '$.o_totalprice')
                                         AS DOUBLE) * 100) AS BIGINT) AS c
                  FROM {msgs}))
        WHERE rn = 1"""
    rows = con.execute(f"""
        SELECT CASE WHEN p.o_orderkey IS NULL THEN 'insert'
                    WHEN l.op = 'd' THEN 'delete' ELSE 'update' END AS ct,
               count(*), sum(l.k), sum(CAST(round(p.o_totalprice * 100)
                                            AS BIGINT)), sum(l.c)
        FROM ({latest}) l LEFT JOIN {prev} p ON p.o_orderkey = l.k
        WHERE NOT (p.o_orderkey IS NULL AND l.op = 'd')
        GROUP BY ct""").fetchall()
    out: dict[str, tuple[int, int, int]] = {}
    for ct, n, k, old, new in rows:
        n, k = int(n), int(k)
        if ct == "update":
            out["update_preimage"] = (n, k, int(old))
            out["update_postimage"] = (n, k, int(new))
        else:
            out[ct] = (n, k, int(old if ct == "delete" else new))
    return out
