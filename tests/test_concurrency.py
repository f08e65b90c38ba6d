"""Optimistic concurrency: commit rebase vs conflict detection.

The commit log publishes with an atomic fail-if-exists rename
(tables/log.py write_commit); write_commit_with_rebase layers Delta's
write-serializable protocol on top: blind appends rebase past
concurrent commits, remove-bearing operations rebase past pure
appends, and anything whose read-set went stale (delete-delete
overlap, schema/property change, table-level rewrite) raises
CommitConflictError instead of publishing a wrong table state.

Races are simulated deterministically: plan an operation, let another
writer commit first, then publish the planned commit.
"""

from __future__ import annotations

import os
import sys
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from deltalake_poc_spark.tables import VersionedTable
from deltalake_poc_spark.tables.log import (
    Commit, CommitConflictError, TableLog,
)

SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("v", StringType()),
])


def rows_df(spark, *ids):
    return spark.createDataFrame([(i, f"v{i}") for i in ids], SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.write(rows_df(spark, 1, 2, 3), "append")
    return t


def _steal_version(t: VersionedTable, spark, *ids):
    """Another writer wins the next version with a blind append."""
    VersionedTable.for_path(spark, t.log.root).write(
        rows_df(spark, *ids), "append")


def test_append_rebases_past_concurrent_append(spark, table):
    # plan an append at version N, let a rival take N, publish ours
    snap = table.snapshot()
    planned = Commit(
        version=table.log.next_version(),
        timestamp=table.log.monotonic_now_ms(),
        operation="APPEND",
        add=table._materialize(rows_df(spark, 10), snap),
        schema_json=snap.schema_json,
    )
    _steal_version(table, spark, 20)
    committed = table._publish(planned, snap)
    assert committed.version == table.log.latest_version()
    got = sorted(r["id"] for r in table.read().collect())
    assert got == [1, 2, 3, 10, 20]  # both appends landed


def test_delete_rebases_past_concurrent_append(spark, table):
    # DELETE planned against v1; a blind append wins v2; the delete
    # publishes at v3 (write-serializable: the appended rows are not
    # re-examined — they did not exist in the delete's snapshot)
    snap = table.snapshot()
    files = snap.file_paths
    keep = table._read_files(files, snap).filter("id <> 2")
    planned = Commit(
        version=table.log.next_version(),
        timestamp=table.log.monotonic_now_ms(),
        operation="DELETE",
        add=table._materialize(keep, snap),
        remove=files,
    )
    _steal_version(table, spark, 30)
    committed = table._publish(planned, snap)
    assert committed.version == table.log.latest_version()
    got = sorted(r["id"] for r in table.read().collect())
    assert got == [1, 3, 30]


def test_delete_delete_conflict(spark, table):
    snap = table.snapshot()
    files = snap.file_paths
    keep = table._read_files(files, snap).filter("id <> 2")
    planned = Commit(
        version=table.log.next_version(),
        timestamp=table.log.monotonic_now_ms(),
        operation="DELETE",
        add=table._materialize(keep, snap),
        remove=files,
    )
    # rival DELETE rewrites (removes) the same files first
    VersionedTable.for_path(spark, table.log.root).delete("id = 3")
    with pytest.raises(CommitConflictError, match="removed by a concurrent"):
        table._publish(planned, snap)


def test_schema_change_conflicts_stale_append(spark, table):
    # rival evolves the schema; our planned append carries the OLD
    # merged schema — rebasing would clobber the new column
    snap = table.snapshot()
    planned = Commit(
        version=table.log.next_version(),
        timestamp=table.log.monotonic_now_ms(),
        operation="APPEND",
        add=table._materialize(rows_df(spark, 11), snap),
        schema_json=snap.schema_json,
    )
    rival = VersionedTable.for_path(spark, table.log.root)
    evolved = spark.createDataFrame([(40, "v40", "extra")], StructType([
        StructField("id", LongType()),
        StructField("v", StringType()),
        StructField("score", StringType()),
    ]))
    rival.write(evolved, "append")
    with pytest.raises(CommitConflictError, match="schema changed"):
        table._publish(planned, snap)


def test_overwrite_never_rebases(spark, table):
    snap = table.snapshot()
    planned = Commit(
        version=table.log.next_version(),
        timestamp=table.log.monotonic_now_ms(),
        operation="OVERWRITE",
        add=table._materialize(rows_df(spark, 99), snap),
        remove=snap.file_paths,
        schema_json=snap.schema_json,
    )
    _steal_version(table, spark, 50)
    with pytest.raises(CommitConflictError, match="never rebase"):
        table._publish(planned, snap, table_level=True)


def test_property_change_conflicts(spark, table):
    snap = table.snapshot()
    planned = Commit(
        version=table.log.next_version(),
        timestamp=table.log.monotonic_now_ms(),
        operation="APPEND",
        add=table._materialize(rows_df(spark, 12), snap),
        schema_json=snap.schema_json,
    )
    VersionedTable.for_path(spark, table.log.root).set_properties(
        {"enableChangeDataFeed": "true"})
    with pytest.raises(CommitConflictError, match="properties changed"):
        table._publish(planned, snap)


def test_create_race_conflicts(spark, tmp_path, table):
    # planned against a non-existent table; rival creates it first
    planned = Commit(
        version=0,
        timestamp=0,
        operation="WRITE",
        add=[],
        schema_json=SCHEMA.json(),
        properties={},
    )
    with pytest.raises(CommitConflictError, match="created concurrently"):
        table._publish(planned, None)


def test_merge_rebases_and_moves_cdf_changes(spark, tmp_path):
    """End-to-end through the MERGE builder: a rival blind append lands
    between merge planning and publish; the merge commit rebases and
    its CDF change files follow to the committed version directory."""
    t = VersionedTable.create(spark, str(tmp_path / "m"), SCHEMA,
                              properties={"enableChangeDataFeed": "true"})
    t.write(rows_df(spark, 1, 2), "append")

    orig_publish = VersionedTable._publish

    def racing_publish(self, c, snap, table_level=False, **kw):
        if c.operation == "MERGE" and not getattr(self, "_raced", False):
            self._raced = True
            _steal_version(self, spark, 70)
        return orig_publish(self, c, snap, table_level, **kw)

    src = spark.createDataFrame([(2, "v2x"), (4, "v4")], SCHEMA)
    try:
        VersionedTable._publish = racing_publish
        commit = (t.merge(src, on="id")
                  .when_matched_update_all()
                  .when_not_matched_insert_all()
                  .execute())
    finally:
        VersionedTable._publish = orig_publish

    assert commit.version == t.log.latest_version()
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {1: "v1", 2: "v2x", 4: "v4", 70: "v70"}
    # CDF files live in the unique dir the commit itself records —
    # rebase needs no renames and racers can't clobber each other
    assert commit.change_dir is not None
    assert os.path.isdir(t.log.commit_changes_dir(commit))
    cdf = t.read_change_feed(commit.version)
    types = sorted(r["_change_type"] for r in cdf.collect())
    assert types == ["insert", "update_postimage", "update_preimage"]


def test_stale_plan_after_rival_commit_still_conflicts(spark, table):
    """The version-planning race: a rival commits BETWEEN our snapshot
    and our version planning, so next_version() hands us rival+1 and
    the first write_commit would succeed with NO conflict checks.
    write_commit_with_rebase must anchor the first attempt at
    read_version+1 so the intervening commit is always examined."""
    snap = table.snapshot()
    files = snap.file_paths
    keep = table._read_files(files, snap).filter("id <> 2")
    add = table._materialize(keep, snap)
    # rival DELETE rewrites the same files FIRST — before we plan our
    # commit version, so our planned version does not collide
    VersionedTable.for_path(spark, table.log.root).delete("id = 3")
    planned = Commit(
        version=table.log.next_version(),  # = rival + 1: no collision
        timestamp=table.log.monotonic_now_ms(),
        operation="DELETE",
        add=add,
        remove=files,
    )
    with pytest.raises(CommitConflictError, match="removed by a concurrent"):
        table._publish(planned, snap)
    # the rival's delete survived untouched (no lost update)
    got = sorted(r["id"] for r in table.read().collect())
    assert got == [1, 2]


def test_stale_constraint_conflicts_with_concurrent_append(spark, table):
    """ADD CONSTRAINT validated against a snapshot must not publish
    past a concurrent append that may violate it (its read-set is the
    whole table): table-level, never rebases."""
    orig_publish = VersionedTable._publish
    raced = {"done": False}

    def racing_publish(self, c, snap, table_level=False, **kw):
        if c.operation == "ADD CONSTRAINT" and not raced["done"]:
            raced["done"] = True
            # rival blind-appends a row VIOLATING the pending constraint
            VersionedTable.for_path(spark, table.log.root).write(
                rows_df(spark, -5), "append")
        return orig_publish(self, c, snap, table_level, **kw)

    try:
        VersionedTable._publish = racing_publish
        with pytest.raises(CommitConflictError, match="never rebase"):
            table.add_constraint("pos_id", "id > 0")
    finally:
        VersionedTable._publish = orig_publish
    assert "pos_id" not in str(table.properties())


def test_aborted_cdf_writer_leaves_no_staged_changes(spark, tmp_path):
    """A CDF-writing op that loses its conflict check must remove the
    change files it staged (no orphan dirs, no phantom CDF rows)."""
    t = VersionedTable.create(spark, str(tmp_path / "ab"), SCHEMA,
                              properties={"enableChangeDataFeed": "true"})
    t.write(rows_df(spark, 1, 2, 3), "append")

    orig_publish = VersionedTable._publish
    raced = {"done": False}

    def racing_publish(self, c, snap, table_level=False, **kw):
        if c.operation == "DELETE" and not raced["done"]:
            raced["done"] = True
            VersionedTable.for_path(spark, t.log.root).delete("id = 3")
        return orig_publish(self, c, snap, table_level, **kw)

    try:
        VersionedTable._publish = racing_publish
        with pytest.raises(CommitConflictError):
            t.delete("id = 1")
    finally:
        VersionedTable._publish = orig_publish
    changes_root = os.path.join(t.log.root, TableLog.CHANGES_DIR)
    staged = ([d for d in os.listdir(changes_root)]
              if os.path.isdir(changes_root) else [])
    # only the rival's committed change dir remains
    rival = t.log.read_commit(t.log.latest_version())
    assert rival.change_dir is not None
    assert staged == [os.path.basename(rival.change_dir)]
    # CDF replay sees exactly the rival's delete
    cdf = t.read_change_feed(rival.version)
    assert [r["id"] for r in cdf.collect()] == [3]


def test_rebase_exhaustion(spark, table):
    snap = table.snapshot()
    planned = Commit(
        version=table.log.next_version(),
        timestamp=table.log.monotonic_now_ms(),
        operation="APPEND",
        add=table._materialize(rows_df(spark, 13), snap),
        schema_json=snap.schema_json,
    )
    log = TableLog(table.log.root)
    real_write = log.write_commit
    calls = {"n": 0}

    def always_taken(commit):
        # a rival takes every version we aim at
        calls["n"] += 1
        real_write(Commit(version=commit.version,
                          timestamp=commit.timestamp,
                          operation="APPEND", add=[],
                          schema_json=snap.schema_json))
        real_write(commit)  # now collides

    log.write_commit = always_taken
    from deltalake_poc_spark.tables.log import ConcurrentWriteError
    with pytest.raises(ConcurrentWriteError, match="lost the commit race"):
        log.write_commit_with_rebase(planned, read_version=snap.version,
                                     max_retries=3)
    assert calls["n"] == 3


def test_concurrent_dv_deletes_conflict(spark, tmp_path):
    """Two concurrent DV deletes may NOT both rebase: each consolidates
    ALL active vectors, so the loser's sidecar (built from the stale
    snapshot) would silently revert the winner's deleted rows."""
    t = VersionedTable.create(
        spark, str(tmp_path / "dvocc"), SCHEMA,
        properties={"enableDeletionVectors": "true"})
    t.write(rows_df(spark, 1, 2, 3, 4), "append")
    snap = t.snapshot()

    orig_publish = VersionedTable._publish
    raced = {"done": False}

    def racing_publish(self, c, s, table_level=False, **kw):
        if c.dv_updates and not raced["done"]:
            raced["done"] = True
            # rival DV delete lands first (its own publish passes the
            # raced flag, so it does not re-trigger the injection)
            VersionedTable.for_path(spark, t.log.root).delete("id = 4")
        return orig_publish(self, c, s, table_level, **kw)

    try:
        VersionedTable._publish = racing_publish
        with pytest.raises(CommitConflictError,
                           match="deletion vectors changed"):
            t.delete("id = 1")
    finally:
        VersionedTable._publish = orig_publish
    # the rival's delete took effect; ours aborted cleanly
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3]
    # a retry planned against the fresh snapshot succeeds
    t2 = VersionedTable.for_path(spark, t.log.root)
    t2.delete("id = 1")
    assert sorted(r["id"] for r in t2.read().collect()) == [2, 3]


def test_threaded_appends_all_land(spark, tmp_path):
    """Real concurrency (not simulated): N threads blind-append through
    independent table handles at once; the rebase protocol must land
    every commit exactly once with no lost updates."""
    from concurrent.futures import ThreadPoolExecutor

    t = VersionedTable.create(spark, str(tmp_path / "thr"), SCHEMA)

    def worker(base):
        h = VersionedTable(spark, str(tmp_path / "thr"))
        for j in range(3):
            h.write(rows_df(spark, base + j), "append")
        return base

    with ThreadPoolExecutor(max_workers=6) as ex:
        list(ex.map(worker, [100, 200, 300, 400, 500, 600]))

    got = sorted(r["id"] for r in t.read().collect())
    assert got == sorted(b + j for b in (100, 200, 300, 400, 500, 600)
                         for j in range(3))
    # 1 create + 18 appends, every version distinct and contiguous
    assert t.version() == 18


def test_concurrent_incremental_dedup_batches(spark, tmp_path):
    """Two ingest batches racing into ONE signature store: both are
    blind appends, so OCC rebase lands both without conflict and no
    signature is lost. (Cross-batch duplicate admission during the
    race window is by-design at-least-once — reconciled by a later
    compaction pass; asserted here is store integrity, not mutual
    exclusion.)"""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from deltalake_poc_spark.pipeline.dedup import (
        incremental_minhash_dedup, signature_store_init)

    store = signature_store_init(spark, str(tmp_path / "store"))

    def mk_batch(lo):
        # ten id-derived pseudo-words per doc: cross-doc Jaccard ~0, so
        # every doc is genuinely novel (a shared-template text would
        # make the whole batch near-dups of each other)
        words = F.transform(
            F.sequence(F.lit(0), F.lit(9)),
            lambda i: F.sha2(F.concat(F.col("id").cast("string"),
                                      F.lit("-"), i.cast("string")), 256))
        return spark.range(lo, lo + 20).select(
            F.col("id").alias("doc_id"),
            F.array_join(words, " ").alias("text"))

    def ingest(lo):
        d = incremental_minhash_dedup(store, mk_batch(lo),
                                      bands=16, threshold=0.5)
        return d.filter("kept").count()

    with ThreadPoolExecutor(max_workers=2) as ex:
        kept_counts = list(ex.map(ingest, [0, 100]))

    # all 40 docs are mutually distinct -> both batches fully admitted
    assert kept_counts == [20, 20]
    final = store.read()
    assert final.count() == 40
    assert final.select("doc_id").distinct().count() == 40
    # and a replay of either batch is now fully dropped
    replay = incremental_minhash_dedup(store, mk_batch(0),
                                       bands=16, threshold=0.5)
    assert replay.filter("kept").count() == 0
    assert store.read().count() == 40


# ------------------------------------------------ the file-sizing scope

PF_KEY = "spark.sql.adaptive.coalescePartitions.parallelismFirst"


@pytest.mark.parametrize("found", [None, "true"], ids=["unset", "set"])
def test_concurrent_writes_leave_parallelism_first_as_found(
        spark, tmp_path, monkeypatch, found):
    """Two writers of one session overlap: the second enters the
    file-sizing scope while the first is writing, and the first leaves
    before the second writes. Each writes with parallelismFirst=false,
    and afterwards the conf is exactly as it was before (unset or
    set)."""
    from pyspark.sql.readwriter import DataFrameWriter

    original = spark.conf.get(PF_KEY, None)
    tables = [VersionedTable.create(spark, str(tmp_path / f"w{i}"), SCHEMA)
              for i in range(2)]
    inside = [threading.Event() for _ in tables]
    go = [threading.Event() for _ in tables]
    seen = {}
    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        i = int(threading.current_thread().name.rsplit("-", 1)[1])
        inside[i].set()
        assert go[i].wait(60)
        seen[i] = spark.conf.get(PF_KEY, None)
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    threads = [threading.Thread(target=t.write, args=(rows_df(spark, i),),
                                name=f"sized-writer-{i}")
               for i, t in enumerate(tables)]
    try:
        if found is None:
            spark.conf.unset(PF_KEY)
        else:
            spark.conf.set(PF_KEY, found)
        for i, th in enumerate(threads):
            th.start()
            assert inside[i].wait(60)
        for i, th in enumerate(threads):
            go[i].set()
            th.join(60)
            assert not th.is_alive()
        assert seen == {0: "false", 1: "false"}
        assert spark.conf.get(PF_KEY, None) == found
    finally:
        for g in go:
            g.set()
        if original is None:
            spark.conf.unset(PF_KEY)
        else:
            spark.conf.set(PF_KEY, original)
    assert [t.version() for t in tables] == [1, 1]


def test_sized_files_scope_under_thread_churn():
    """Many threads enter and leave the scope at random points, with a
    short switch interval: inside it the conf always reads false, and
    the last one out restores the value found."""
    from deltalake_poc_spark.tables.sizing import sized_files

    class Conf(dict):
        def get(self, key, default):
            return dict.get(self, key, default)

        def set(self, key, value):
            self[key] = value

        def unset(self, key):
            self.pop(key, None)

    class Session:
        _jsparkSession = "session"
        conf = Conf({PF_KEY: "true"})

    wrong = []

    def churn():
        for _ in range(300):
            with sized_files(Session):
                if Session.conf.get(PF_KEY, None) != "false":
                    wrong.append(Session.conf.get(PF_KEY, None))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=churn) for _ in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(60)
            assert not th.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert not wrong
    assert Session.conf == {PF_KEY: "true"}
