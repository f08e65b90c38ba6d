"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

from perfbench import eventlog, gen, oracle, reads, stats
from perfbench.trace import Tracer, union_length

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SPEC = gen.TopicSpec(tables=("customers", "orders"), batches=4,
                     events_per_batch=50, initial_keys=20,
                     snapshot_batch=True)


# ------------------------------------------------------------ generator


def _same_plan(a, b) -> bool:
    return a.keys() == b.keys() and all(
        a[t].keys() == b[t].keys()
        and all(np.array_equal(a[t][c], b[t][c]) for c in a[t]) for t in a)


def test_plan_is_deterministic_per_seed():
    assert _same_plan(gen.plan_events(SPEC, 7), gen.plan_events(SPEC, 7))
    assert not _same_plan(gen.plan_events(SPEC, 7), gen.plan_events(SPEC, 8))


def test_tables_are_deterministic_per_seed():
    assert all(gen.tpch_tables(0.001, 3)[t].equals(gen.tpch_tables(0.001, 3)[t])
               for t in ("orders", "lineitem", "customer"))
    assert not gen.tpch_tables(0.001, 3)["lineitem"].equals(
        gen.tpch_tables(0.001, 4)["lineitem"])
    a, b = gen.corpus_tables(50, 40, 5), gen.corpus_tables(50, 40, 5)
    assert a["documents"].equals(b["documents"])
    assert a["embeddings"].equals(b["embeddings"])


def test_plan_op_mix_and_key_rules():
    plan = gen.plan_events(SPEC, 1)
    for t, arr in plan.items():
        assert (arr["op"][arr["batch"] == 0] == "r").all()
        assert np.all(np.diff(arr["lsn"]) > 0)  # emission order per table
        live = set(range(SPEC.initial_keys))
        for op, k in zip(arr["op"][arr["batch"] > 0], arr["key"][arr["batch"] > 0]):
            if op == "c":
                assert k not in live
                live.add(k)
            else:  # updates and deletes touch live keys only
                assert k in live
                if op == "d":
                    live.discard(k)
        later = arr["op"][arr["batch"] > 0]
        assert abs((later == "d").mean() - gen.DELETE_FRAC) < 0.05


def test_plan_batches_own_disjoint_lsn_blocks():
    plan = gen.plan_events(SPEC, 2)
    for arr in plan.values():
        assert np.array_equal(arr["lsn"] // gen.LSN_STRIDE - 1, arr["batch"])


# ------------------------------------------------------------ tail rule


def test_tail_percentile_small_counts_read_as_median():
    for n in range(1, 20):
        assert stats.tail_percentile(n) == 50.0
    s = stats.summarize([3.0, 1.0, 2.0])
    assert s["p50"] == s["tail"] == 2.0 and s["n"] == 3


def test_tail_percentile_keeps_ten_samples_beyond():
    for n in (20, 21, 30, 99, 100, 101, 250, 1000, 12345):
        p = stats.tail_percentile(n)
        assert n * (1 - p / 100) >= 10 - 1e-9  # >= 10 samples beyond
        assert n * (1 - (p + 1) / 100) < 10  # and p is the highest such
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(1000) == 99.0


def test_percentile_matches_numpy():
    xs = list(np.random.default_rng(0).random(37))
    for p in (0, 10, 50, 66, 90, 100):
        assert math.isclose(stats.percentile(xs, p), np.percentile(xs, p))


# ------------------------------------------------------------ event log


def test_eventlog_parser_on_recorded_log():
    log = eventlog.parse(os.path.join(DATA, "tiny_eventlog.json"))
    with open(os.path.join(DATA, "tiny_eventlog_expected.json")) as fh:
        want = json.load(fh)
    per_op = log.per_op(lambda j: j.group)
    assert sorted(per_op) == sorted(want)
    for op, counters in want.items():
        got = per_op[op].counters
        for k, v in counters.items():
            assert math.isclose(got[k], v, rel_tol=1e-9), (op, k, got[k], v)


# ---------------------------------------------------------------- spans


def test_self_time_subtracts_overlapping_children():
    tr = Tracer()
    tr.record("parent", 0.0, 10.0)
    tr.record("a", 1.0, 4.0)
    tr.record("b", 3.0, 6.0)
    tr.record("c", 8.0, 12.0)  # clipped to the parent's end
    for s in tr.spans[1:]:
        s.parent = 0
    assert math.isclose(tr.self_time(tr.spans[0]), 10 - (5 + 2))
    assert union_length([(0, 1), (2, 3)]) == 2


# --------------------------------------------------------------- oracle


def _msg(op: str, key: int, lsn: int, **after) -> str:
    payload = {"op": op, "ts_ms": lsn, "source": {"table": "customers",
                                                  "lsn": lsn}}
    if op == "d":
        payload["before"] = {"id": key}
    else:
        payload["after"] = {"id": key, **after}
    return json.dumps({"key": json.dumps({"payload": {"id": key}}),
                       "value": json.dumps({"payload": payload}),
                       "topic": "cdc.public.customers", "partition": 0,
                       "offset": lsn})


def _row(key: int) -> dict:
    return {"first_name": f"f{key}", "last_name": "l", "email": "e",
            "phone": "p", "address": "a", "created_at": 1, "updated_at": 2}


def _topic(tmp_path) -> str:
    path = tmp_path / "batch_00000.json"
    path.write_text("\n".join([
        _msg("c", 1, 10, **_row(1)), _msg("c", 2, 11, **_row(2)),
        _msg("u", 1, 12, **{**_row(1), "first_name": "new"}),
        _msg("d", 2, 13)]) + "\n")
    return str(path)


def _expected(con, files):
    oracle.messages_view(con, files)
    return con.execute(oracle.expected_snapshot_sql(
        gen.TopicSpec(tables=("customers",), batches=1, events_per_batch=1,
                      initial_keys=0), "customers")).arrow()


def test_oracle_latest_event_per_key_drops_deleted_keys(tmp_path):
    con = duckdb.connect()
    exp = _expected(con, [_topic(tmp_path)])
    assert exp.column("id").to_pylist() == [1]
    assert exp.column("first_name").to_pylist() == ["new"]
    assert exp.column("__cdc_operation").to_pylist() == ["u"]


def test_oracle_comparison_fails_on_dropped_delete(tmp_path):
    con = duckdb.connect()
    exp = _expected(con, [_topic(tmp_path)])
    # an engine that dropped the delete still holds key 2
    kept = pa.concat_tables([exp, pa.table({
        "id": [2], **{c: [v] for c, v in _row(2).items()},
        "__cdc_operation": ["c"]}).cast(exp.schema)])
    con.register("exp_t", exp)
    con.register("got_t", kept)
    assert oracle.diff_counts(con, "exp_t", "got_t") == (0, 1)
    con.register("same_t", exp)
    assert oracle.diff_counts(con, "exp_t", "same_t") == (0, 0)


def test_oracle_comparison_fails_on_one_ulp():
    x = 1234.56
    bumped = float(np.nextafter(x, np.inf))
    a = pd.DataFrame({"k": [1, 2], "v": [x, 0.5]})
    b = pd.DataFrame({"k": [2, 1], "v": [0.5, bumped]})
    assert oracle.same_result(a, a.iloc[::-1])
    assert not oracle.same_result(a, b)
    con = duckdb.connect()
    con.register("a_t", pa.Table.from_pandas(a))
    con.register("b_t", pa.Table.from_pandas(b))
    assert oracle.diff_counts(con, "a_t", "b_t") == (1, 1)


def test_state_aggregates_catch_values_moved_between_rows():
    con = duckdb.connect()
    con.execute("""CREATE TABLE a AS SELECT * FROM (VALUES
        (1, 7, 'F', 10.25, TIMESTAMP '1995-01-02', '1-URGENT'),
        (2, 9, 'O', 20.50, TIMESTAMP '1996-03-04', '5-LOW'))
        t(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
          o_orderpriority)""")
    base = reads._agg(con, "a")
    assert base[:2] == (2, 3)
    for col in ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
                "o_orderpriority"):
        # the two rows trade this column's values: counts and plain sums
        # stay, the aggregates must not
        con.execute(f"CREATE OR REPLACE TABLE b AS SELECT * REPLACE ("
                    f"(SELECT {col} FROM a x WHERE x.o_orderkey = 3 - "
                    f"a.o_orderkey) AS {col}) FROM a")
        assert reads._agg(con, "b") != base, col
