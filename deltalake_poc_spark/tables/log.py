"""JSON transaction log for versioned parquet tables.

A from-scratch, PySpark-native replacement for the Delta Lake
transaction log the reference relies on (its tables live under
``deltalake/*/_delta_log/*.json`` with add/remove file actions;
protocol evidence at ``deltalake/customers/_delta_log/
00000000000000000000.json``). Same core ideas — ordered JSON commits,
add/remove file actions, per-file stats, table properties — and the
same optimistic concurrency: a commit publishes by an atomic
fail-if-exists link of its version file, and the log numbers and
stamps every commit when it publishes (write_commit_with_rebase),
rebasing it past concurrent commits that left its read-set intact.

Layout (all paths relative to the table root):

    _log/00000000000000000000.json   one JSON commit per version
    _log/<version>.checkpoint.json   replayed table state every
                                     CHECKPOINT_EVERY versions
    data/<uuid>.parquet              data files (referenced by commits;
                                     data/k=v/... when partitioned)
    _dv/<uuid>/*.parquet             deletion-vector sidecars (file, pos)
                                     named by commits' dvUpdates
    _changes/<uuid>/*.parquet        change-data-feed rows of the commit
                                     whose changeDir names the dir
    _staging/<uuid>/                 a writer's Spark output before its
                                     files move into data/

Anything under data/, _dv/, _changes/ or _staging/ that no commit
references is invisible to readers; VACUUM reclaims it.

Commit JSON fields:
    version, timestamp (epoch ms), operation, operationParameters,
    add: [{path, numRecords, stats: {col: [min, max]}}],
    remove: [path, ...],
    schema: Spark StructType JSON (present when schema changes),
    properties: full table-properties map (present when it changes),
    metrics: operation metrics (numOutputRows, numTargetRowsUpdated, ...),
    dvUpdates: {data file: DV dir or null}, changeDir: change-file dir

At 100 TB the log stays small (one small JSON per commit; file stats
are per-file scalars), and readers do a single driver-side replay,
from the newest checkpoint, to plan a distributed parquet scan.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid
from dataclasses import dataclass, field


# Spark writes a NULL partition value as this directory name
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def partition_values(rel: str) -> dict[str, str]:
    """Hive partition values from a path's ``k=v`` segments, unquoted
    as Spark quotes them when it writes partition directories."""
    return {k: urllib.parse.unquote(v)
            for k, eq, v in (seg.partition("=") for seg in rel.split("/"))
            if eq}


@dataclass
class FileEntry:
    """One active data file with optional per-column [min, max] stats
    and (for partitioned tables) its Hive-style partition values."""

    path: str  # relative to table root
    num_records: int = 0
    stats: dict[str, list] = field(default_factory=dict)
    partition: dict[str, str] = field(default_factory=dict)
    # per-column bloom filters ({col: {m, k, b64}}) for equality
    # skipping on high-cardinality columns — written only when the
    # graft.bloomFilter.columns table property is set
    bloom: dict[str, dict] = field(default_factory=dict)

    def to_json(self) -> dict:
        d = {"path": self.path, "numRecords": self.num_records, "stats": self.stats}
        if self.partition:
            d["partition"] = self.partition
        if self.bloom:
            d["bloom"] = self.bloom
        return d

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        return FileEntry(d["path"], d.get("numRecords", 0), d.get("stats", {}),
                         d.get("partition", {}), d.get("bloom", {}))


@dataclass
class Commit:
    operation: str
    # set by TableLog.write_commit_with_rebase when the commit publishes
    version: int | None = None
    timestamp: int | None = None  # epoch ms
    operation_parameters: dict = field(default_factory=dict)
    add: list[FileEntry] = field(default_factory=list)
    remove: list[str] = field(default_factory=list)
    schema_json: str | None = None
    properties: dict | None = None
    metrics: dict = field(default_factory=dict)
    # deletion-vector updates: data-file rel path -> DV dir rel path
    # (the DV holds (file, pos) rows marking deleted row positions)
    dv_updates: dict = field(default_factory=dict)
    # rel path of this commit's CDF change-file directory. Staged under
    # a unique name BEFORE the commit and recorded here, so a version's
    # change files are owned exclusively by the commit that won it —
    # two writers racing for one version can never clobber each other's
    # staged changes (the loser's dir is simply never referenced).
    change_dir: str | None = None

    def to_json(self) -> dict:
        d = {
            "version": self.version,
            "timestamp": self.timestamp,
            "operation": self.operation,
            "operationParameters": self.operation_parameters,
            "add": [f.to_json() for f in self.add],
            "remove": self.remove,
            "schema": self.schema_json,
            "properties": self.properties,
            "metrics": self.metrics,
        }
        if self.dv_updates:
            d["dvUpdates"] = self.dv_updates
        if self.change_dir:
            d["changeDir"] = self.change_dir
        return d

    @staticmethod
    def from_json(d: dict) -> "Commit":
        return Commit(
            version=d["version"],
            timestamp=d["timestamp"],
            operation=d["operation"],
            operation_parameters=d.get("operationParameters", {}),
            add=[FileEntry.from_json(x) for x in d.get("add", [])],
            remove=d.get("remove", []),
            schema_json=d.get("schema"),
            properties=d.get("properties"),
            metrics=d.get("metrics", {}),
            dv_updates=d.get("dvUpdates", {}),
            change_dir=d.get("changeDir"),
        )


class ConcurrentWriteError(RuntimeError):
    pass


class CommitConflictError(ConcurrentWriteError):
    """A concurrent commit is semantically incompatible with this one
    (delete-delete overlap, metadata change, table-level rewrite):
    automatic rebase would be unsafe — the caller must re-plan from the
    fresh snapshot."""


@dataclass
class Snapshot:
    """Replayed table state as of a version."""

    version: int
    timestamp: int
    files: list[FileEntry]
    schema_json: str | None
    properties: dict
    # active deletion vectors: data-file rel path -> DV dir rel path
    dvs: dict = field(default_factory=dict)

    @property
    def file_paths(self) -> list[str]:
        return [f.path for f in self.files]


class TableLog:
    """Reader/writer for the transaction log of one table."""

    LOG_DIR = "_log"
    DATA_DIR = "data"
    CHANGES_DIR = "_changes"
    STAGING_DIR = "_staging"

    CHECKPOINT_EVERY = 100

    def __init__(self, root: str):
        self.root = root
        self.log_path = os.path.join(root, self.LOG_DIR)
        # commits are immutable once published -> cache parsed commits
        # per version for the lifetime of this handle
        self._commit_cache: dict[int, Commit] = {}

    # -- paths ---------------------------------------------------------------

    def exists(self) -> bool:
        return os.path.isdir(self.log_path) and bool(self._versions())

    def data_dir(self) -> str:
        return os.path.join(self.root, self.DATA_DIR)

    def commit_changes_dir(self, c: Commit) -> str | None:
        """Absolute path of a commit's CDF change-file directory (the
        unique dir the commit records), or None if it staged none."""
        return c.change_dir and self.abs_path(c.change_dir)

    def abs_path(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    def change_feed(self, c: Commit) -> list[tuple[str | None, list[str]]]:
        """What commit ``c`` contributes to the change data feed, as
        (``_change_type``, rel paths) groups. Row-appending writes derive
        their inserts from their added files (no change files are
        written, as in Delta); OVERWRITE/RESTORE add a delete of every
        removed file; MERGE/DELETE/UPDATE contribute their change
        files, whose rows carry their own ``_change_type`` (type None;
        a partitioned table's sit in k=v subdirectories of the commit's
        change dir). OPTIMIZE, VACUUM and property commits change no
        row."""
        if c.operation in ("MERGE", "DELETE", "UPDATE"):
            cd = self.commit_changes_dir(c)
            files = sorted(os.path.relpath(os.path.join(d, f), self.root)
                           for d, _, fs in os.walk(cd or "")
                           for f in fs if f.endswith(".parquet"))
            return [(None, files)] if files else []
        groups: list[tuple[str | None, list[str]]] = []
        if c.operation in ("WRITE", "APPEND", "CREATE TABLE",
                           "OVERWRITE", "RESTORE"):
            groups.append(("insert", [a.path for a in c.add]))
        if c.operation in ("OVERWRITE", "RESTORE"):
            groups.append(("delete", list(c.remove)))
        return [(t, paths) for t, paths in groups if paths]

    def dv_positions(self, dvs: dict[str, str]) -> dict[str, list[int]]:
        """Deleted row positions per data file, sorted: ``dvs`` maps a
        data file to the deletion-vector sidecar (a ``file``, ``pos``
        parquet directory, consolidated across files) holding its
        vector. Read driver-side with pyarrow, each sidecar once: the
        sidecars hold only active deleted positions, and tables purge
        before they grow large."""
        import pyarrow.parquet as pq

        out: dict[str, set[int]] = {}
        for d in sorted(set(dvs.values())):
            rows = pq.read_table(self.abs_path(d),
                                 columns=["file", "pos"]).to_pydict()
            for f, p in zip(rows["file"], rows["pos"]):
                if dvs.get(f) == d:
                    out.setdefault(f, set()).add(p)
        return {f: sorted(ps) for f, ps in out.items()}

    def new_data_file_dir(self) -> str:
        """A unique staging directory for Spark to write new data files into."""
        return os.path.join(self.root, self.STAGING_DIR, uuid.uuid4().hex)

    # -- log reading ----------------------------------------------------------

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_path):
            return []
        out = []
        for f in os.listdir(self.log_path):
            if f.endswith(".json"):
                try:
                    out.append(int(f[:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def latest_version(self) -> int:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no log at {self.log_path}")
        return vs[-1]

    def read_commit(self, version: int) -> Commit:
        c = self._commit_cache.get(version)
        if c is None:
            p = os.path.join(self.log_path, f"{version:020d}.json")
            with open(p) as fh:
                c = Commit.from_json(json.load(fh))
            self._commit_cache[version] = c
        return c

    def commits(self, start: int = 0, end: int | None = None) -> list[Commit]:
        vs = [v for v in self._versions() if v >= start and (end is None or v <= end)]
        return [self.read_commit(v) for v in vs]

    def _checkpoint_path(self, version: int) -> str:
        return os.path.join(self.log_path, f"{version:020d}.checkpoint.json")

    def _latest_checkpoint_version(self, at_or_below: int) -> int | None:
        if not os.path.isdir(self.log_path):
            return None
        best = None
        for f in os.listdir(self.log_path):
            if f.endswith(".checkpoint.json"):
                v = int(f.split(".")[0])
                if v <= at_or_below and (best is None or v > best):
                    best = v
        return best

    def write_checkpoint(self, snap: "Snapshot") -> None:
        """Materialized snapshot state so replay is O(commits since
        checkpoint), not O(all commits) — the scaling story of a log
        that accrues one commit per micro-batch forever (Delta's
        parquet checkpoints, here as JSON)."""
        p = self._checkpoint_path(snap.version)
        tmp = p + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump({
                "version": snap.version,
                "timestamp": snap.timestamp,
                "files": [f.to_json() for f in snap.files],
                "schema": snap.schema_json,
                "properties": snap.properties,
                "dvs": snap.dvs,
            }, fh)
        os.replace(tmp, p)

    def _read_checkpoint(self, version: int) -> "Snapshot":
        with open(self._checkpoint_path(version)) as fh:
            d = json.load(fh)
        return Snapshot(d["version"], d["timestamp"],
                        [FileEntry.from_json(x) for x in d["files"]],
                        d.get("schema"), d.get("properties", {}),
                        d.get("dvs", {}))

    def snapshot(self, version: int | None = None,
                 timestamp_ms: int | None = None) -> Snapshot:
        """Replay the log up to a version (or the latest version whose
        commit timestamp <= timestamp_ms — reference emulates this for
        delta-rs at delta_handler.py:247-264; Spark native is
        ``timestampAsOf``). Starts from the newest checkpoint at or
        below the target, then replays only the tail."""
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no commits at {self.log_path}")
        if timestamp_ms is not None:
            # commit timestamps are nondecreasing (monotonic_now_ms),
            # so binary-search the newest commit at or before the
            # target: O(log n) commit reads on a cold log instead of
            # reading all n (at 5k commits that is ~13 reads vs 5k —
            # tests/test_log_depth.py pins the read count)
            lo, hi, pos = 0, len(versions) - 1, -1
            while lo <= hi:
                mid = (lo + hi) // 2
                if self.read_commit(versions[mid]).timestamp <= timestamp_ms:
                    pos, lo = mid, mid + 1
                else:
                    hi = mid - 1
            if pos < 0:
                raise ValueError(
                    f"no version at or before timestamp {timestamp_ms}"
                )
            version = versions[pos]
        if version is None:
            version = versions[-1]
        if version not in set(versions):
            raise ValueError(f"version {version} does not exist")

        ckpt_v = self._latest_checkpoint_version(version)
        if ckpt_v is not None:
            base = self._read_checkpoint(ckpt_v)
            active = {f.path: f for f in base.files}
            dvs = dict(base.dvs)
            schema_json, properties, ts = base.schema_json, dict(base.properties), base.timestamp
            start = ckpt_v + 1
        else:
            active = {}
            dvs = {}
            schema_json, properties, ts = None, {}, 0
            start = 0
        for v in versions:
            if v < start or v > version:
                continue
            c = self.read_commit(v)
            ts = c.timestamp
            self.apply(c, active, dvs)
            if c.schema_json:
                schema_json = c.schema_json
            if c.properties is not None:
                properties = dict(c.properties)
        return Snapshot(version, ts, list(active.values()), schema_json,
                        properties, dvs)

    @staticmethod
    def apply(c: Commit, active: dict[str, FileEntry],
              dvs: dict[str, str]) -> None:
        """Replay commit ``c``'s file actions onto ``active`` (data file
        -> entry) and ``dvs`` (data file -> DV dir)."""
        for r in c.remove:
            active.pop(r, None)
            dvs.pop(r, None)  # file gone -> its DV is gone
        for a in c.add:
            active[a.path] = a
            dvs.pop(a.path, None)  # fresh file content, no DV
        for fp, dv in c.dv_updates.items():
            if dv is None:  # explicit clear (RESTORE)
                dvs.pop(fp, None)
            else:
                dvs[fp] = dv

    # -- log writing ----------------------------------------------------------

    def next_version(self) -> int:
        vs = self._versions()
        return (vs[-1] + 1) if vs else 0

    def write_commit(self, commit: Commit) -> None:
        """Atomically publish a commit at its version: if that version
        file already exists the commit fails with ConcurrentWriteError
        (the optimistic protocol the reference's Delta writers rely on;
        write_commit_with_rebase decides what happens next)."""
        os.makedirs(self.log_path, exist_ok=True)
        target = os.path.join(self.log_path, f"{commit.version:020d}.json")
        if os.path.exists(target):
            raise ConcurrentWriteError(f"version {commit.version} already committed")
        tmp = target + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(commit.to_json(), fh)
        try:
            # link+unlink = atomic fail-if-exists publish on POSIX
            os.link(tmp, target)
        except FileExistsError as e:
            raise ConcurrentWriteError(
                f"version {commit.version} already committed"
            ) from e
        finally:
            os.unlink(tmp)
        if commit.version > 0 and commit.version % self.CHECKPOINT_EVERY == 0:
            try:
                self.write_checkpoint(self.snapshot(commit.version))
            except Exception:
                pass  # checkpoints are an optimization, never a failure

    def write_commit_with_rebase(self, commit: Commit,
                                 read_version: int | None,
                                 table_level: bool = False,
                                 max_retries: int = 20) -> Commit:
        """Number, stamp and publish ``commit`` under optimistic
        concurrency (Delta's write-serializable protocol).

        ``read_version`` is the snapshot version the operation was
        planned against (None = the table did not exist yet). The first
        attempt targets ``read_version + 1`` (version 0 for None), as
        Delta attempts readVersion + 1, so every commit published since
        the snapshot goes through the check below; each attempt takes a
        fresh nondecreasing timestamp. If another writer won the
        version, decide between REBASE (retry at the next version) and
        CONFLICT (raise CommitConflictError — the caller's plan is
        stale).

        ``table_level`` marks operations whose read-set is the whole
        table (overwrite, restore, add constraint): they never rebase.
        A commit that adds, removes and changes nothing (a no-op
        DELETE) has no read-set and always rebases. Otherwise rebase is
        safe iff every intervening commit left the read-set intact:
        same schema, same properties, and — when our commit removes
        files or changes deletion vectors, having read the snapshot to
        plan them — no file we saw removed and no vector changed.
        Concurrent blind APPENDS therefore never conflict with appends,
        MERGE, DELETE, or OPTIMIZE — the standard write-serializable
        anomaly (our rewrite does not see rows appended after our
        snapshot) is accepted, exactly as Delta's default isolation
        accepts it."""
        commit.version = 0 if read_version is None else read_version + 1
        for _ in range(max_retries):
            commit.timestamp = self.monotonic_now_ms()
            try:
                self.write_commit(commit)
                return commit
            except ConcurrentWriteError:
                latest = self.latest_version()
                if read_version is None:
                    raise CommitConflictError(
                        f"{self.root}: table was created concurrently")
                if table_level:
                    raise CommitConflictError(
                        f"{self.root}: {commit.operation} planned at "
                        f"v{read_version} but table is at v{latest}; "
                        "table-level operations never rebase")
                if (commit.add or commit.remove or commit.dv_updates
                        or commit.change_dir or commit.schema_json
                        or commit.properties is not None):
                    self._check_rebase(commit, read_version, latest)
                commit.version = latest + 1
        raise ConcurrentWriteError(
            f"{self.root}: lost the commit race {max_retries} times")

    def _check_rebase(self, commit: Commit, read_version: int,
                      latest: int) -> None:
        """Raise CommitConflictError if the commits after
        ``read_version`` invalidated ``commit``'s read-set."""
        base = self.snapshot(read_version)
        now = self.snapshot(latest)
        if now.properties != base.properties:
            raise CommitConflictError(
                f"{self.root}: table properties changed "
                f"concurrently (v{read_version} -> v{latest})")
        if now.schema_json != base.schema_json:
            raise CommitConflictError(
                f"{self.root}: schema changed concurrently "
                f"(v{read_version} -> v{latest})")
        if commit.remove or commit.dv_updates:
            # two DV deletes each consolidate ALL active vectors —
            # rebasing the loser would silently revert the winner's rows
            gone = set(base.file_paths) - set(now.file_paths)
            if gone:
                raise CommitConflictError(
                    f"{self.root}: {len(gone)} file(s) this "
                    f"{commit.operation} read were removed by a "
                    "concurrent commit")
            if now.dvs != base.dvs:
                raise CommitConflictError(
                    f"{self.root}: deletion vectors changed "
                    f"concurrently (v{read_version} -> v{latest})")

    def monotonic_now_ms(self) -> int:
        """Commit timestamp, forced nondecreasing across versions so
        timestamp-based time travel is well-defined."""
        now = int(time.time() * 1000)
        vs = self._versions()
        if vs:
            last = self.read_commit(vs[-1]).timestamp
            if now <= last:
                now = last + 1
        return now
