"""Export a ``VersionedTable`` as a STANDARD Delta Lake table.

``tables/deltareader.py`` is the read half of Delta-protocol interop;
this is the write half: replay the engine's private commit log and
emit a protocol-compliant ``_delta_log``
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md) so any
standard client — delta-spark, delta-rs, DuckDB's delta extension —
can read the result. The reference stack reads its tables with
delta-rs/delta-spark (delta_handler.py, spark_delta_handler.py), so
this closes the reverse migration path: tables built here remain
readable there.

The export is commit-for-commit: our version N becomes standard Delta
version N, preserving history, per-version schemas/properties, commit
timestamps (so ``timestampAsOf`` time travel agrees), change-data
files (as ``cdc`` actions), column mapping (our ``physicalName``
field metadata becomes ``delta.columnMapping.physicalName`` + ``.id``
with reader/writer versions raised per the protocol), and deletion
vectors (our consolidated (file, pos) parquet sidecars re-encode as
protocol roaring-bitmap .bin vectors via ``tables/roaring.py``, with
the protocol upgraded to table features (3, 7) at the first DV
commit — no data rewrite: DV'd files stay hard links).

Scale: export is metadata-bound — one small JSON per commit plus one
hard-link (or copy, cross-device) per data file. No data rewrite, no
Spark job; a 100 TB table exports in file-count time.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from deltalake_poc_spark.tables.log import (HIVE_NULL, Commit, FileEntry,
                                            TableLog, partition_values)
from deltalake_poc_spark.tables.table import CDF_PROP, VersionedTable

# our property name -> standard delta property name
_PROP_RENAMES = {
    CDF_PROP: "delta.enableChangeDataFeed",
    VersionedTable.COLUMN_MAPPING_PROP: "delta.columnMapping.mode",
}
# private layout details with no standard meaning (partition columns
# are carried by metaData.partitionColumns instead)
_PRIVATE_PROPS = {"partitionColumns"}

# operations whose file movement does not change table content —
# standard CDF readers skip actions with dataChange=false
_NO_DATACHANGE_OPS = {"OPTIMIZE"}


def _translate_properties(props: dict) -> dict[str, str]:
    out = {}
    for k, v in (props or {}).items():
        if k in _PRIVATE_PROPS:
            continue
        out[_PROP_RENAMES.get(k, k)] = str(v)
    return out


class _ColumnIds:
    """Stable column-id assignment for column mapping: ids follow
    first appearance of each physical name across the schema history
    (the protocol requires ids never be reused or changed)."""

    def __init__(self) -> None:
        self.ids: dict[str, int] = {}

    def id_for(self, physical: str) -> int:
        if physical not in self.ids:
            self.ids[physical] = len(self.ids) + 1
        return self.ids[physical]

    @property
    def max_id(self) -> int:
        return len(self.ids)


def _delta_schema_string(schema_json: str, mapping_on: bool,
                         ids: _ColumnIds) -> str:
    """Our schema JSON -> standard schemaString. The private
    ``physicalName`` metadata key becomes the protocol's
    ``delta.columnMapping.physicalName`` (+ ``.id``) when mapping is
    enabled, and is stripped otherwise."""
    schema = json.loads(schema_json)
    for f in schema.get("fields", []):
        md = dict(f.get("metadata") or {})
        phys = md.pop("physicalName", f["name"])
        if mapping_on:
            md["delta.columnMapping.id"] = ids.id_for(phys)
            md["delta.columnMapping.physicalName"] = phys
        f["metadata"] = md
    return json.dumps(schema)


def _protocol_requirement(conf: dict[str, str]) -> tuple[int, int]:
    """Minimum legacy reader/writer versions implied by the table
    configuration (legacy versions, not table features — every
    standard client understands them)."""
    reader, writer = 1, 2
    if conf.get("delta.enableChangeDataFeed") == "true":
        writer = max(writer, 4)
    if conf.get("delta.columnMapping.mode") == "name":
        reader, writer = max(reader, 2), max(writer, 5)
    return reader, writer


def _protocol_action(conf: dict[str, str], dv_used: bool) -> dict:
    """Protocol action for the current configuration. Deletion vectors
    force the table-features form (3, 7); per the protocol every
    feature the table uses — including those the replaced legacy
    versions implied — must then be listed explicitly."""
    if not dv_used:
        r, w = _protocol_requirement(conf)
        return {"protocol": {"minReaderVersion": r, "minWriterVersion": w}}
    reader_feats = {"deletionVectors"}
    writer_feats = {"appendOnly", "invariants", "deletionVectors"}
    if conf.get("delta.enableChangeDataFeed") == "true":
        writer_feats.add("changeDataFeed")
    if conf.get("delta.columnMapping.mode") == "name":
        reader_feats.add("columnMapping")
        writer_feats.add("columnMapping")
    return {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                         "readerFeatures": sorted(reader_feats),
                         "writerFeatures": sorted(writer_feats)}}


def _protocol_key(action: dict) -> tuple:
    p = action["protocol"]
    return (p["minReaderVersion"], p["minWriterVersion"],
            frozenset(p.get("readerFeatures") or []),
            frozenset(p.get("writerFeatures") or []))


def _needs_protocol(emitted: tuple | None, want: tuple) -> bool:
    if emitted is None:
        return True
    return (want[0] > emitted[0] or want[1] > emitted[1]
            or not want[2] <= emitted[2] or not want[3] <= emitted[3])


def _stale_stats(stats_json: str | None) -> str | None:
    """A file under a deletion vector keeps its physical stats but the
    bounds are no longer tight (deleted rows may hold the min/max)."""
    if not stats_json:
        return stats_json
    stats = json.loads(stats_json)
    stats["tightBounds"] = False
    return json.dumps(stats)


def _transfer(src: str, dst: str, link: bool) -> None:
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    if os.path.exists(dst):
        return  # files are immutable and content-addressed by uuid
    if link:
        try:
            os.link(src, dst)
            return
        except OSError:
            pass  # cross-device: fall through to copy
    shutil.copy2(src, dst)


def _add_action(root: str, dest: str, entry: FileEntry,
                mapping: dict[str, str], data_change: bool,
                link: bool, transfer: bool = True) -> dict:
    """``transfer=False`` builds the action body without touching the
    destination (incremental sync replaying already-exported commits
    for state only); a source file vacuumed since then yields a
    size-less placeholder, valid only if a later commit removes it."""
    src = os.path.join(root, entry.path)
    if transfer:
        _transfer(src, os.path.join(dest, entry.path), link)
    # the standard log stores a NULL partition value as JSON null
    pvals = {k: (None if v == HIVE_NULL else v)
             for k, v in (entry.partition or {}).items()}
    # file-skipping stats; keyed by PHYSICAL name (what the parquet
    # stores) per the protocol's column-mapping rules
    stats = {
        "numRecords": entry.num_records,
        "minValues": {mapping.get(c, c): mm[0]
                      for c, mm in (entry.stats or {}).items()
                      if mm and mm[0] is not None},
        "maxValues": {mapping.get(c, c): mm[1]
                      for c, mm in (entry.stats or {}).items()
                      if mm and mm[1] is not None},
    }
    if not transfer and not os.path.exists(src):
        size, mtime = None, 0
    else:
        st = os.stat(src)
        size, mtime = st.st_size, int(st.st_mtime * 1000)
    return {"add": {
        "path": entry.path,
        "partitionValues": pvals,
        "size": size,
        "modificationTime": mtime,
        "dataChange": data_change,
        "stats": json.dumps(stats),
    }}


def _write_checkpoint(log_dir: str, version: int,
                      protocol: tuple, metadata: dict,
                      active: list[dict]) -> None:
    """Classic-checkpoint parquet + ``_last_checkpoint`` at ``version``:
    full table state (protocol + metaData + every active add), typed
    with explicit map<string,string> columns the way delta-spark writes
    them — readers then replay from here instead of the JSON prefix.
    At 1M files that is the difference between opening one parquet and
    parsing a million JSON action lines. ``protocol`` is a
    ``_protocol_key`` tuple; a table-features protocol (deletion
    vectors) adds the feature-list columns, and any active DV
    descriptors ride along in the add struct."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    str_map = pa.map_(pa.string(), pa.string())
    with_features = bool(protocol[2] or protocol[3])
    with_dv = any(a.get("deletionVector") for a in active)
    proto_fields = [("minReaderVersion", pa.int32()),
                    ("minWriterVersion", pa.int32())]
    if with_features:
        proto_fields += [("readerFeatures", pa.list_(pa.string())),
                         ("writerFeatures", pa.list_(pa.string()))]
    add_fields = [
        ("path", pa.string()),
        ("partitionValues", str_map),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("stats", pa.string()),
    ]
    if with_dv:
        add_fields.append(("deletionVector", pa.struct([
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ])))
    schema = pa.schema([
        ("protocol", pa.struct(proto_fields)),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string()),
                                  ("options", str_map)])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", str_map),
            ("createdTime", pa.int64()),
        ])),
        ("add", pa.struct(add_fields)),
    ])
    proto_row = {"minReaderVersion": protocol[0],
                 "minWriterVersion": protocol[1]}
    if with_features:
        proto_row["readerFeatures"] = sorted(protocol[2])
        proto_row["writerFeatures"] = sorted(protocol[3])
    if with_dv:
        active = [a if a.get("deletionVector")
                  else {**a, "deletionVector": None} for a in active]
    rows = [
        {"protocol": proto_row, "metaData": None, "add": None},
        {"protocol": None, "metaData": metadata, "add": None},
    ]
    for ad in active:
        rows.append({"protocol": None, "metaData": None, "add": ad})
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(log_dir, f"{version:020d}.checkpoint.parquet"))
    tmp = os.path.join(log_dir, f"_last_checkpoint.tmp.{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
    os.replace(tmp, os.path.join(log_dir, "_last_checkpoint"))


def export_standard_delta(table: VersionedTable, dest: str,
                          link: bool = True,
                          checkpoint: bool = False,
                          incremental: bool = False) -> int:
    """Export ``table`` to ``dest`` as a standard Delta table,
    replaying every commit. Returns the exported latest version.

    ``link=True`` hard-links data files (zero-copy; falls back to copy
    across filesystems). ``checkpoint=True`` additionally writes a
    classic checkpoint parquet + ``_last_checkpoint`` at the final
    version so clients replay one parquet instead of the whole JSON
    log. ``incremental=True`` SYNCS an existing export: versions the
    destination already has are replayed for state only (no writes —
    the replay is deterministic, so trackers land exactly where the
    original export left them, and ``metaData.id`` is taken from the
    destination log to keep table identity stable), then only the new
    source commits are emitted. This keeps a live standard-Delta
    mirror of a table that keeps committing (e.g. under CDC apply) at
    per-sync cost proportional to the NEW commits' files. The export
    is deterministic given the source log except for the freshly
    generated first-export ``metaData.id``.
    """
    log = table.log
    versions = [c.version for c in log.commits()]
    if not versions:
        raise FileNotFoundError(f"not a versioned table: {log.root}")
    log_dir = os.path.join(dest, "_delta_log")
    exported = -1
    table_id: str | None = None
    if os.path.isdir(log_dir) and os.listdir(log_dir):
        if not incremental:
            raise FileExistsError(
                f"destination already has a Delta log: {dest}")
        done = sorted(int(n[:-5]) for n in os.listdir(log_dir)
                      if n.endswith(".json") and n[:-5].isdigit())
        if not done:
            raise FileExistsError(
                f"destination log has no JSON commits to sync from: {dest}")
        exported = done[-1]
        if exported > versions[-1]:
            raise ValueError(
                f"destination (v{exported}) is ahead of the source "
                f"(v{versions[-1]}): not the same table?")
        for v in done:  # first metaData action carries the table id
            with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
                for line in fh:
                    a = json.loads(line)
                    if "metaData" in a:
                        table_id = a["metaData"]["id"]
                        break
            if table_id:
                break
        if table_id is None:
            raise ValueError(f"no metaData action in destination log: {dest}")
    os.makedirs(log_dir, exist_ok=True)

    if table_id is None:
        table_id = str(uuid.uuid4())
    ids = _ColumnIds()
    created_ms: int | None = None
    # trackers for change detection across commits
    cur_schema_json: str | None = None
    cur_props: dict | None = None
    cur_partition_cols: list[str] = []
    emitted_protocol: tuple | None = None
    # snapshot state for the optional final checkpoint
    last_metadata: dict | None = None
    active: dict[str, dict] = {}  # path -> add-action body
    # deletion-vector export state: standard descriptor already
    # published per data file (reconciliation is keyed by
    # (path, DV uniqueId), so removes must echo the exact descriptor)
    exported_dvs: dict[str, dict] = {}
    dv_used = False

    for v in versions:
        c: Commit = log.read_commit(v)
        live = v > exported  # dry replay of already-synced versions
        if created_ms is None:
            created_ms = c.timestamp
        actions: list[dict] = []
        data_change = c.operation not in _NO_DATACHANGE_OPS
        dv_used = dv_used or bool(c.dv_updates)

        schema_changed = bool(c.schema_json) and c.schema_json != cur_schema_json
        props_changed = c.properties is not None and c.properties != cur_props
        if c.schema_json:
            cur_schema_json = c.schema_json
        if c.properties is not None:
            cur_props = dict(c.properties)
            raw_pc = cur_props.get("partitionColumns")
            cur_partition_cols = json.loads(raw_pc) if raw_pc else []

        conf = _translate_properties(cur_props or {})
        mapping_on = conf.get("delta.columnMapping.mode") == "name"
        proto = _protocol_action(conf, dv_used)
        if _needs_protocol(emitted_protocol, _protocol_key(proto)):
            actions.append(proto)
            emitted_protocol = _protocol_key(proto)

        if v == 0 or schema_changed or props_changed:
            if cur_schema_json is None:
                raise ValueError(
                    f"commit 0 of {log.root} carries no schema; cannot "
                    "produce a protocol-compliant metaData action")
            if mapping_on:
                schema_string = _delta_schema_string(
                    cur_schema_json, True, ids)
                conf["delta.columnMapping.maxColumnId"] = str(ids.max_id)
            else:
                schema_string = _delta_schema_string(
                    cur_schema_json, False, ids)
            last_metadata = {
                "id": table_id,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": cur_partition_cols,
                "configuration": conf,
                "createdTime": created_ms,
            }
            actions.append({"metaData": last_metadata})

        # physical-name map for stats keys under this commit's schema
        mapping: dict[str, str] = {}
        if mapping_on and cur_schema_json:
            for f in json.loads(cur_schema_json).get("fields", []):
                mapping[f["name"]] = (f.get("metadata") or {}).get(
                    "physicalName", f["name"])

        for entry in c.add:
            act = _add_action(log.root, dest, entry, mapping,
                              data_change, link, transfer=live)
            active[entry.path] = act["add"]
            actions.append(act)
            exported_dvs.pop(entry.path, None)  # fresh content, no DV
        for rel in c.remove:
            active.pop(rel, None)
            rm = {
                "path": rel,
                "deletionTimestamp": c.timestamp,
                "dataChange": data_change,
            }
            old_dv = exported_dvs.pop(rel, None)
            if old_dv:
                rm["deletionVector"] = old_dv
            actions.append({"remove": rm})

        # deletion-vector updates: the data file is immutable, so the
        # standard encoding is remove(path, old DV) + add(path, new DV)
        # in one commit. Our consolidated (file, pos) parquet sidecar
        # becomes one packed .bin of roaring bitmaps (u-storage, one
        # vector per file at increasing offsets — the layout
        # delta-spark itself writes). Dry replay (incremental sync)
        # recovers the descriptors from the destination's own committed
        # JSON instead of re-encoding: the original .bin file names are
        # random, and the source sidecar may since have been purged.
        if c.dv_updates and live:
            from deltalake_poc_spark.tables import roaring

            live_dvs = {p: d for p, d in c.dv_updates.items() if d}
            positions = log.dv_positions(live_dvs)
            cleared = sorted(set(c.dv_updates) - set(live_dvs))
            paths = sorted(live_dvs)
            descriptors = roaring.write_dv_file(
                dest, [positions.get(p, []) for p in paths]) if paths else []
            for path, desc in list(zip(paths, descriptors)) + [
                    (p, None) for p in cleared]:
                if path not in active:
                    continue  # file itself gone in the same commit
                old_dv = exported_dvs.pop(path, None)
                rm = {"path": path, "deletionTimestamp": c.timestamp,
                      "dataChange": True}
                if old_dv:
                    rm["deletionVector"] = old_dv
                actions.append({"remove": rm})
                body = dict(active[path])
                if desc:
                    body["deletionVector"] = desc
                    body["stats"] = _stale_stats(body.get("stats"))
                    exported_dvs[path] = desc
                else:
                    body.pop("deletionVector", None)
                body["dataChange"] = True
                body["modificationTime"] = c.timestamp
                active[path] = body
                actions.append({"add": body})
        elif c.dv_updates:
            with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
                for line in fh:
                    a = json.loads(line)
                    if "add" in a and a["add"]["path"] in c.dv_updates:
                        body = a["add"]
                        active[body["path"]] = body
                        if body.get("deletionVector"):
                            exported_dvs[body["path"]] = \
                                body["deletionVector"]
                        else:
                            exported_dvs.pop(body["path"], None)

        # change-data files -> cdc actions (standard readers then take
        # them as the commit's complete change set, matching how they
        # were written: one row-level write stages the full set), each
        # under its k=v path with its partition values in the action
        for change_type, paths in log.change_feed(c) if live else ():
            for src in paths if change_type is None else ():
                sub = os.path.relpath(src, c.change_dir)
                rel = f"_change_data/{sub}"  # Spark's names are unique
                _transfer(log.abs_path(src), os.path.join(dest, rel), link)
                actions.append({"cdc": {
                    "path": rel,
                    "partitionValues": {
                        k: (None if x == HIVE_NULL else x)
                        for k, x in partition_values(sub).items()},
                    "size": os.stat(log.abs_path(src)).st_size,
                    "dataChange": False,
                }})

        commit_info = {"commitInfo": {
            "timestamp": c.timestamp,
            "operation": c.operation,
            "operationParameters": {
                k: v if isinstance(v, str) else json.dumps(v)
                for k, v in (c.operation_parameters or {}).items()
            },
            "operationMetrics": {k: str(v)
                                 for k, v in (c.metrics or {}).items()},
            "engineInfo": "deltalake-poc-spark",
        }}
        if live:
            lines = [json.dumps(commit_info)]
            lines += [json.dumps(a) for a in actions]
            target = os.path.join(log_dir, f"{v:020d}.json")
            tmp = target + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            os.replace(tmp, target)

    if checkpoint:
        assert last_metadata is not None  # commit 0 always carries one
        gone = [a["path"] for a in active.values() if a["size"] is None]
        if gone:
            raise FileNotFoundError(
                "cannot checkpoint: active files missing from the source "
                f"(vacuumed?): {gone[:3]}")
        _write_checkpoint(log_dir, versions[-1], emitted_protocol,
                         last_metadata, list(active.values()))
    return versions[-1]
