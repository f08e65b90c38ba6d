"""CDC-domain analytics (RisingWave MVs + notebook queries) and the
table inspection helpers, on small domain frames."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from deltalake_poc_spark.analytics import cdc_queries as CQ
from deltalake_poc_spark.tables import VersionedTable
from deltalake_poc_spark.tables.inspect import (
    change_timeline, version_diff, version_row_counts,
)

TS = datetime.datetime(2024, 1, 5, 12, 0, 0)


def _customers(spark):
    return spark.createDataFrame(
        [(1, "Alice", "A", "a@x"), (2, "Bob", "B", "b@x")],
        "id long, first_name string, last_name string, email string")


def _orders(spark):
    return spark.createDataFrame(
        [(10, 1, TS, "completed", 100.0), (11, 1, TS, "pending", 50.0),
         (12, 2, TS + datetime.timedelta(days=1), "completed", 10.0)],
        "id long, customer_id long, order_date timestamp, status string,"
        " total_amount double")


def test_customer_order_summary(spark):
    got = {r["customer_id"]: r for r in
           CQ.customer_order_summary(_customers(spark), _orders(spark)).collect()}
    assert got[1]["order_count"] == 2 and got[1]["lifetime_value"] == 150.0
    assert got[2]["order_count"] == 1


def test_order_analytics(spark):
    got = CQ.order_analytics(_orders(spark)).collect()
    by_key = {(r["order_day"].day, r["status"]): r for r in got}
    assert by_key[(5, "completed")]["order_count"] == 1
    assert by_key[(5, "pending")]["total_revenue"] == 50.0


def test_product_inventory_and_popularity(spark):
    products = spark.createDataFrame(
        [(1, "W", "tools", 9.99, 0), (2, "X", "tools", 5.0, 5),
         (3, "Y", "toys", 2.0, 50)],
        "id long, name string, category string, price double, stock_quantity int")
    inv = {r["product_id"]: r["stock_status"]
           for r in CQ.product_inventory(products).collect()}
    assert inv == {1: "Out of Stock", 2: "Low Stock", 3: "In Stock"}
    items = spark.createDataFrame(
        [(100, 10, 1, 2), (101, 10, 1, 1), (102, 11, 2, 5)],
        "id long, order_id long, product_id long, quantity int")
    pop = CQ.product_popularity(products, items).collect()
    assert pop[0]["product_id"] == 1 and pop[0]["times_ordered"] == 2
    assert pop[0]["total_quantity"] == 3
    det = {r["order_id"]: r for r in
           CQ.order_details(_orders(spark), items).collect()}
    assert det[10]["item_count"] == 2 and det[12]["item_count"] == 0


def test_cdc_statistics_and_sync_summary(spark):
    ev = spark.createDataFrame(
        [("customers", "c", TS), ("customers", "u", TS), ("orders", "c", TS)],
        "source_table string, operation string, event_timestamp timestamp")
    stats = {(r["source_table"], r["operation"]): r["event_count"]
             for r in CQ.cdc_statistics(ev).collect()}
    assert stats == {("customers", "c"): 1, ("customers", "u"): 1,
                     ("orders", "c"): 1}
    snap = spark.createDataFrame([(1, TS)], "id long, __processed_at timestamp")
    summ = CQ.sync_summary({"customers": snap, "orders": snap}).collect()
    assert {r["table_name"] for r in summ} == {"customers", "orders"}
    assert all(r["record_count"] == 1 for r in summ)


def test_inspect_helpers(spark, tmp_path, monkeypatch):
    from deltalake_poc_spark.tables.log import TableLog

    schema = spark.createDataFrame([], "id long, v string").schema
    t = VersionedTable.create(spark, str(tmp_path / "t"), schema,
                              properties={"enableChangeDataFeed": "true"})
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], schema))      # v1
    t.write(spark.createDataFrame([(3, "c")], schema))                # v2
    (t.merge(spark.createDataFrame([(1, "a2")], schema), on="id")
     .when_matched_update_all().execute())                            # v3
    t.delete("id = 2")                                                # v4

    diff = [r["id"] for r in version_diff(t, v_new=2, v_old=1, key="id").collect()]
    assert diff == [3]
    # one pass over the log: no snapshot replay per removing commit
    replays = []
    real = TableLog.snapshot

    def counting(self, *a, **kw):
        replays.append(a)
        return real(self, *a, **kw)

    monkeypatch.setattr(TableLog, "snapshot", counting)
    rows = [tuple(r) for r in version_row_counts(t).collect()]
    monkeypatch.undo()
    counts = {v: n for v, _op, n in rows}
    assert counts[1] == 2 and counts[2] == 3 and counts[4] == 2
    assert rows == [(0, "CREATE TABLE", 0), (1, "APPEND", 2),
                    (2, "APPEND", 3), (3, "MERGE", 3), (4, "DELETE", 2)]
    assert replays == []
    tl = change_timeline(t, "id", 1).collect()
    assert [r["_change_type"] for r in tl] == [
        "insert", "update_postimage", "update_preimage"]
    assert tl[0]["_commit_version"] == 1


def test_cohort_retention_matrix(spark):
    """Planted cohorts: users 1/2 first active week 0, user 3 first
    active week 1; user 1 returns in weeks 1 and 3, user 2 never
    returns, user 3 returns in week 2 (offset 1). Duplicate events in
    one week count once."""
    from datetime import datetime

    from deltalake_poc_spark.analytics.queries import cohort_retention

    def ev(i, uid, day):
        return (i, datetime(2024, 1, 1 + day), uid, "click", 1.0, "{}")

    rows = [
        ev(0, 1, 0), ev(1, 1, 1),          # u1 week 0 twice
        ev(2, 2, 2),                        # u2 week 0
        ev(3, 1, 7), ev(4, 1, 22),          # u1 weeks 1 and 3
        ev(5, 3, 8),                        # u3 first seen week 1
        ev(6, 3, 15),                       # u3 week 2 (offset 1)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    got = {(r["cohort_week"], r["week_offset"]): r["n_users"]
           for r in cohort_retention(df).collect()}
    assert got == {(0, 0): 2, (0, 1): 1, (0, 3): 1,
                   (1, 0): 1, (1, 1): 1}


def test_funnel_counts_strict_ordering(spark):
    """Funnel steps require strictly increasing timestamps: a user who
    clicked BEFORE viewing does not reach step 2; one who did
    view < click < purchase reaches step 3; equal timestamps do not
    advance the funnel."""
    from datetime import datetime

    from deltalake_poc_spark.analytics.queries import funnel_counts

    def ev(i, uid, minute, etype):
        return (i, datetime(2024, 1, 1, 0, minute), uid, etype, 1.0, "{}")

    rows = [
        # u1: full funnel in order
        ev(0, 1, 0, "view"), ev(1, 1, 5, "click"), ev(2, 1, 9, "purchase"),
        # u2: clicked before viewing -> stops at step 1
        ev(3, 2, 3, "click"), ev(4, 2, 7, "view"),
        # u3: view then click, purchase at the SAME ts as click -> step 2
        ev(5, 3, 1, "view"), ev(6, 3, 4, "click"), ev(7, 3, 4, "purchase"),
        # u4: never viewed
        ev(8, 4, 2, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    r = funnel_counts(df).collect()[0]
    assert (r["step_1_users"], r["step_2_users"], r["step_3_users"]) == \
        (3, 2, 1)


def test_funnel_counts_whale_user_bounded_state(spark):
    """Whale/bot safety: the funnel must not hold a user's full event
    list in one aggregation buffer. A user with 50k clicks BEFORE
    their first view (so no bounded min-k per step could shortcut it)
    still funnels correctly through the running-min window
    formulation, and the plan shows WindowExec + plain hash
    aggregation — no ObjectHashAggregate/collect_list whose state
    grows with the hottest user."""
    from deltalake_poc_spark.analytics.queries import funnel_counts

    clicks = spark.range(50_000).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(F.col("id")).alias("ts"),
        F.lit(7).alias("user_id"),
        F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"), F.lit("{}").alias("props"))
    late = spark.createDataFrame(
        [(90_000, datetime.datetime(2024, 1, 1, 0, 0, 1), 7, "view",
          1.0, "{}"),
         (90_001, datetime.datetime(2024, 1, 1, 0, 0, 2), 7, "click",
          1.0, "{}"),
         (90_002, datetime.datetime(2024, 1, 1, 0, 0, 3), 7, "purchase",
          1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string")
    df = clicks.unionByName(late)
    q = funnel_counts(df)
    r = q.collect()[0]
    assert (r["step_1_users"], r["step_2_users"], r["step_3_users"]) == \
        (1, 1, 1), "only the click strictly after the view advances"
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "collect_list" not in plan
    assert "ObjectHashAggregate" not in plan


def test_user_sessions_whale_user(spark):
    """A single user with 200k events (every other key tiny) must
    sessionize correctly and within one spill-backed task — the skew
    shape a bot/whale account creates at corpus scale. Expected
    output computed analytically: events every 10 s with a >30 min
    jump every 1000 events -> 200 sessions of exactly 1000 events."""
    from deltalake_poc_spark.analytics.events import user_sessions

    n, block = 200_000, 1000
    ev = (spark.range(0, n, 1, 8)
          .select(F.lit(9).alias("user_id"),
                  F.timestamp_millis(
                      (F.col("id") * 10_000)
                      + (F.col("id") / block).cast("long") * 7_200_000)
                  .alias("ts"),
                  F.lit(1.0).alias("value"))
          .unionAll(spark.range(100, 150)
                    .select(F.col("id").alias("user_id"),
                            F.timestamp_millis(F.col("id")).alias("ts"),
                            F.lit(1.0).alias("value"))))
    out = user_sessions(ev, gap_minutes=30)
    whale = out.filter(F.col("user_id") == 9)
    rows = whale.collect()
    assert len(rows) == n // block
    assert all(r["n_events"] == block for r in rows)
    tiny = out.filter(F.col("user_id") != 9)
    assert tiny.count() == 50  # each tiny user: 1 session
