"""Seeded input generators for the benchmark.

Everything the program under test receives is made here, from the
workload seed, before any timing starts:

- CDC topics: an event plan (table, batch, op, key, lsn, row values)
  drawn with numpy, then encoded into Kafka-shaped Debezium messages by
  ``cdc.synth.raw_kafka_frame`` and written as one JSON-lines file per
  micro-batch (the shape ``CDCStreamRunner.file_source`` reads);
- TPC-H-shaped star tables, a text corpus and an embedding set with the
  same columns and value domains as the engine's query registry expects.

The plan functions are pure numpy/pyarrow so the same seed gives the
same inputs with or without Spark.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
LSN_STRIDE = 10_000_000  # lsn block per batch; > events in any batch

# Value columns of the four reference domain tables (cdc/schema.py
# TABLE_SCHEMAS); "ts" columns travel as epoch microseconds.
TABLE_COLUMNS: dict[str, list[tuple[str, str]]] = {
    "customers": [("first_name", "str"), ("last_name", "str"),
                  ("email", "str"), ("phone", "str"), ("address", "str"),
                  ("created_at", "ts"), ("updated_at", "ts")],
    "products": [("name", "str"), ("description", "str"),
                 ("price", "money"), ("stock_quantity", "int"),
                 ("category", "str"), ("created_at", "ts"),
                 ("updated_at", "ts")],
    "orders": [("customer_id", "long"), ("order_date", "ts"),
               ("status", "status"), ("total_amount", "money"),
               ("created_at", "ts"), ("updated_at", "ts")],
    "order_items": [("order_id", "long"), ("product_id", "long"),
                    ("quantity", "int"), ("unit_price", "money"),
                    ("created_at", "ts")],
}
# The TPC-H ``orders`` table driven by the read workload's CDC history.
TPCH_ORDER_COLUMNS = [("o_custkey", "long"), ("o_orderstatus", "flag"),
                      ("o_totalprice", "money"), ("o_orderdate", "day"),
                      ("o_orderpriority", "prio")]
COLUMN_SETS = {"reference": TABLE_COLUMNS,
               "tpch": {"orders": TPCH_ORDER_COLUMNS}}
KEY_COLUMNS = {"reference": "id", "tpch": "o_orderkey"}
STATUSES = np.array(["pending", "paid", "shipped", "delivered", "cancelled"])
FLAGS = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
DAY_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
# Op mix of every non-snapshot batch, and the recency skew of the keys
# updates and deletes pick: rank ``floor(live * u ** SKEW)`` (u uniform)
# from the newest live key, so SKEW 1 is uniform and larger values
# favour the newest keys.
INSERT_FRAC = 0.3
DELETE_FRAC = 0.1
SKEW = 3.0


@dataclass(frozen=True)
class TopicSpec:
    """Shape of one CDC topic: ``batches`` micro-batches of
    ``events_per_batch`` events per table, over key spaces that start
    with ``initial_keys`` live rows per table. The op mix and key skew
    are the module's ``INSERT_FRAC``, ``DELETE_FRAC`` and ``SKEW``."""

    tables: tuple[str, ...]
    batches: int
    events_per_batch: int
    initial_keys: int
    snapshot_batch: bool = False  # batch 0 = 'r' rows for the initial keys
    column_set: str = "reference"  # key of COLUMN_SETS

    @property
    def key_column(self) -> str:
        return KEY_COLUMNS[self.column_set]

    def columns(self, table: str) -> list[tuple[str, str]]:
        return COLUMN_SETS[self.column_set][table]

    def params(self) -> dict:
        return {**asdict(self), "insert_frac": INSERT_FRAC,
                "delete_frac": DELETE_FRAC, "skew": SKEW}


def plan_events(spec: TopicSpec, seed: int) -> dict[str, dict[str, np.ndarray]]:
    """Event plan per table: parallel arrays ``batch, op, key, lsn,
    ts_ms`` plus one array per value column (``None`` rows for
    deletes are filled but never encoded). Deterministic in
    ``(spec, seed)``; lsn is global across tables and increases in
    emission order, so (lsn) alone orders every event. Batch ``b``
    owns lsns ``[(b + 1) * LSN_STRIDE, (b + 2) * LSN_STRIDE)``."""
    rng = np.random.default_rng(seed)
    n_tab = len(spec.tables)
    n_ins = int(round(spec.events_per_batch * INSERT_FRAC))
    n_del = int(round(spec.events_per_batch * DELETE_FRAC))
    n_upd = spec.events_per_batch - n_ins - n_del
    kinds = np.array(["c"] * n_ins + ["u"] * n_upd + ["d"] * n_del)
    cap = spec.initial_keys + spec.batches * n_ins + 1
    alive = [np.zeros(cap, dtype=bool) for _ in range(n_tab)]
    for a in alive:
        a[: spec.initial_keys] = True
    next_key = [spec.initial_keys] * n_tab
    cols: dict[str, dict[str, list]] = {
        t: {"batch": [], "op": [], "key": []} for t in spec.tables}
    lsns: dict[str, list] = {t: [] for t in spec.tables}
    first = 0
    if spec.snapshot_batch:
        for ti, t in enumerate(spec.tables):
            base = LSN_STRIDE + ti * spec.initial_keys
            cols[t]["batch"].extend([0] * spec.initial_keys)
            cols[t]["op"].extend(["r"] * spec.initial_keys)
            cols[t]["key"].extend(range(spec.initial_keys))
            lsns[t].extend(range(base + 1, base + 1 + spec.initial_keys))
        first = 1
    for b in range(first, first + spec.batches):
        lsn = (b + 1) * LSN_STRIDE
        # interleave the tables' events within a batch, as one
        # connector emits them
        order = np.concatenate([
            np.stack([np.full(len(kinds), i), rng.permutation(kinds)], 1)
            for i in range(n_tab)])
        order = order[rng.permutation(len(order))]
        for ti_s, op in order:
            ti = int(ti_s)
            t = spec.tables[ti]
            if op == "c":
                k = next_key[ti]
                next_key[ti] += 1
                alive[ti][k] = True
            else:
                k = _pick_live(rng, alive[ti], next_key[ti])
                if k < 0:  # nothing live: emit an insert instead
                    op, k = "c", next_key[ti]
                    next_key[ti] += 1
                    alive[ti][k] = True
                elif op == "d":
                    alive[ti][k] = False
            lsn += 1
            cols[t]["batch"].append(b)
            cols[t]["op"].append(op)
            cols[t]["key"].append(k)
            lsns[t].append(lsn)
    out: dict[str, dict[str, np.ndarray]] = {}
    for t in spec.tables:
        n = len(cols[t]["key"])
        arr = {k: np.asarray(v) for k, v in cols[t].items()}
        arr["lsn"] = np.asarray(lsns[t], dtype=np.int64)
        arr["ts_ms"] = EPOCH_2024_US // 1000 + arr["lsn"] // 1000
        arr["key"] = arr["key"].astype(np.int64)
        arr.update(_row_values(rng, spec.columns(t), arr["key"],
                               arr["ts_ms"], n))
        out[t] = arr
    return out


def _pick_live(rng: np.random.Generator, alive: np.ndarray, hi: int) -> int:
    for _ in range(64):
        k = hi - 1 - int(hi * rng.random() ** SKEW)
        if 0 <= k < hi and alive[k]:
            return k
    live = np.flatnonzero(alive[:hi])
    return int(live[-1]) if len(live) else -1


def _row_values(rng: np.random.Generator, columns: list[tuple[str, str]],
                key: np.ndarray, ts_ms: np.ndarray, n: int
                ) -> dict[str, np.ndarray]:
    vals: dict[str, np.ndarray] = {}
    for name, kind in columns:
        if kind == "str":
            vals[name] = np.char.add(
                f"{name[:4]}-", rng.integers(0, 10**9, n).astype(str))
        elif kind == "money":
            vals[name] = np.round(rng.uniform(1.0, 5000.0, n), 2)
        elif kind == "int":
            vals[name] = rng.integers(0, 1000, n).astype(np.int32)
        elif kind == "long":
            vals[name] = rng.integers(0, 50_000, n).astype(np.int64)
        elif kind == "status":
            vals[name] = STATUSES[rng.integers(0, len(STATUSES), n)]
        elif kind == "flag":
            vals[name] = FLAGS[rng.integers(0, len(FLAGS), n)]
        elif kind == "prio":
            vals[name] = PRIORITIES[rng.integers(0, len(PRIORITIES), n)]
        elif kind == "day":
            vals[name] = DAY_1995_US + rng.integers(0, 2404, n) * US_PER_DAY
        elif name == "created_at":
            vals[name] = EPOCH_2024_US + key * 1_000_003
        elif name == "updated_at":
            vals[name] = ts_ms * 1000
        else:  # order_date
            vals[name] = EPOCH_2024_US + rng.integers(0, 365, n) * US_PER_DAY
    return vals


def write_topic(spark, spec: TopicSpec, plan: dict[str, dict[str, np.ndarray]],
                out_dir: str, work_dir: str) -> list[str]:
    """Encode the plan as Debezium Kafka messages via
    ``raw_kafka_frame`` and write one JSON-lines file per batch,
    ``out_dir/batch_NNNNN.json``. One Spark job for the whole topic;
    the batch of a message is recovered from its offset (= lsn)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from deltalake_poc_spark.cdc.synth import raw_kafka_frame

    frames = None
    for table, arr in plan.items():
        value_cols = [c for c, _ in spec.columns(table)]
        pdf = pd.DataFrame({c: arr[c] for c in
                            ["op", "key", "lsn", "ts_ms", *value_cols]})
        df = spark.createDataFrame(pdf)
        kid = F.col("key").alias(spec.key_column)
        after = F.when(F.col("op") != "d", F.struct(
            kid, *[F.col(c) for c in value_cols]))
        before = F.when(F.col("op") == "d", F.struct(kid))
        msgs = raw_kafka_frame(
            df, op=F.col("op"), key=F.col("key"), lsn=F.col("lsn"),
            ts_ms=F.col("ts_ms"), after=after, before=before, table=table)
        frames = msgs if frames is None else frames.unionByName(msgs)
    stage = os.path.join(work_dir, "topic_stage")
    frames.coalesce(1).write.mode("overwrite").json(stage)
    os.makedirs(out_dir, exist_ok=True)
    outs: dict[int, object] = {}
    try:
        for f in sorted(os.listdir(stage)):
            if not f.startswith("part-"):
                continue
            with open(os.path.join(stage, f), "rb") as fh:
                for line in fh:
                    # the batch of a message is recovered from its offset
                    off = int(line[line.rindex(b'"offset":') + 9:]
                              .rstrip(b"}\n"))
                    b = off // LSN_STRIDE - 1
                    if b not in outs:
                        outs[b] = open(os.path.join(
                            out_dir, f"batch_{b:05d}.json"), "wb")
                    outs[b].write(line)
    finally:
        for fh in outs.values():
            fh.close()
    shutil.rmtree(stage)
    files = [os.path.join(out_dir, f"batch_{b:05d}.json") for b in outs]
    return sorted(files)


# ------------------------------------------------------------- tables


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema with the columns and value domains the
    ``analytics.tpch`` queries filter on (segments, nation/region
    names, part types and brands, flags, 1995-2001 dates)."""
    rng = np.random.default_rng(seed + 104_729)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    day = np.datetime64("1995-01-01", "D")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def ts(days):
        return pa.array((day + days).astype("datetime64[us]"), pa.timestamp("us"))

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["large", "hot", "blue", "old", "cold", "green", "small",
                    "bright"])
    noun = np.array(["ring", "bolt", "plate", "gear", "pipe", "valve"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    part = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2)})
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": FLAGS[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": ts(odays),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    lok = rng.integers(0, n_ord, n_line).astype(np.int64)
    lineitem = pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ts(odays[lok] + rng.integers(1, 122, n_line))})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


WORDS = np.array(
    "a agg batch big column data fast filter group hash key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window join index cache log commit file page plan shard "
    "delta frame node task".split())
LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])


def corpus_tables(n_docs: int, n_vecs: int, seed: int) -> dict[str, pa.Table]:
    """Text corpus (``documents``) and embedding set (``embeddings``)
    for the dedup/clustering builders. A fifth of the documents are
    near-copies of an earlier original (one token replaced) and a tenth
    of the vectors are jittered copies, so every dedup stage finds
    real duplicate groups."""
    rng = np.random.default_rng(seed + 1_299_709)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if originals and rng.random() < 0.2:
            # one token replaced: word 3-gram Jaccard stays >= ~0.85, far
            # above every builder's threshold, so LSH recall is 1
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split()
            toks[int(rng.integers(0, len(toks)))] = str(
                WORDS[rng.integers(0, len(WORDS))])
        else:
            originals.append(i)
            toks = list(WORDS[rng.integers(0, len(WORDS),
                                           int(rng.integers(40, 80)))])
        texts.append(" ".join(toks))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_vecs)
    vecs = centers[label] * 0.3 + rng.normal(0, 0.15, (n_vecs, 64))
    dup = np.flatnonzero(rng.random(n_vecs) < 0.1)
    dup = dup[dup > 0]
    src = rng.integers(0, dup, len(dup)) if len(dup) else dup
    vecs[dup] = vecs[src] + rng.normal(0, 0.002, (len(dup), 64))
    label[dup] = label[src]
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})
    return {"documents": documents, "embeddings": embeddings}


def write_parquet(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` per table, the layout ``analytics.io.
    load_table`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
