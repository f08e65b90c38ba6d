"""Per-file column statistics from parquet footers.

Equivalent of Delta's per-file stats (``numRecords`` + min/max, which
the reference's tables carry in their Delta log and considered tuning
via ``delta.dataSkippingNumIndexedCols``; spark_streaming.py:171-173).
Footers are read driver-side with pyarrow — O(files) tiny reads, no
data scan; at cluster scale this would run inside the write job's
tasks instead (same information, shipped back with the file list).
"""

from __future__ import annotations

import base64
import datetime
import hashlib
import math
from typing import Any

import pyarrow.parquet as pq

MAX_STATS_COLS = 8  # mirror delta.dataSkippingNumIndexedCols default behavior


def _scalar(v: Any) -> Any:
    """JSON-serializable representation of a footer min/max value."""
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (int, float, str, bool)) or v is None:
        return v
    return None


def collect_file_stats(abs_path: str) -> tuple[int, dict]:
    """Return (num_records, {col: [min, max]}) of the first
    ``MAX_STATS_COLS`` columns of one parquet file."""
    md = pq.ParquetFile(abs_path).metadata
    num_records = md.num_rows
    schema = md.schema
    names = [schema.column(i).name for i in range(len(schema))]
    wanted = {n: i for i, n in enumerate(names[:MAX_STATS_COLS])}
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    failed: set[str] = set()
    for rg in range(md.num_row_groups):
        for name, ci in wanted.items():
            if name in failed:
                continue
            st = md.row_group(rg).column(ci).statistics
            try:
                lo = _scalar(st.min) if st is not None and st.has_min_max else None
                hi = _scalar(st.max) if st is not None and st.has_min_max else None
            except Exception:
                # pyarrow cannot extract stats for some types (e.g. decimal)
                lo = hi = None
            if lo is None or hi is None:
                failed.add(name)  # unknown for any row group -> no file stats
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    stats = {n: [mins[n], maxs[n]] for n in wanted if n in mins and n not in failed}
    return num_records, stats


# ----------------------------------------------------------- data skipping

_PRED_RE = None  # compiled lazily (keep module import light)


def _parse_literal(text: str):
    t = text.strip()
    if len(t) >= 2 and t[0] == t[-1] and t[0] in ("'", '"'):
        return t[1:-1]
    try:
        return int(t)
    except ValueError:
        pass
    try:
        return float(t)
    except ValueError:
        return None  # not a literal we can reason about


def parse_skipping_predicates(where: str) -> list[tuple[str, str, Any]]:
    """Extract the provable conjuncts of a predicate string.

    Data skipping is allowed to use only what it can PROVE from
    [min, max]: top-level AND-ed comparisons of a bare column against a
    literal (`col <op> literal` or `literal <op> col`). Everything else
    (ORs, functions, column-column, IN, ...) contributes no pruning —
    the full predicate is still applied to the scanned rows, so
    skipping is a pure optimization, exactly like Delta's
    dataSkippingNumIndexedCols stats pruning.
    """
    global _PRED_RE
    import re

    if _PRED_RE is None:
        _PRED_RE = re.compile(
            r"^\s*(?:(?P<col>[A-Za-z_]\w*)\s*(?P<op><=|>=|==|=|<|>)\s*"
            r"(?P<lit>[^<>=]+)|(?P<lit2>[^<>=]+?)\s*(?P<op2><=|>=|==|=|<|>)"
            r"\s*(?P<col2>[A-Za-z_]\w*))\s*$")
    out: list[tuple[str, str, Any]] = []
    FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "=", "==": "=="}
    for conj in re.split(r"(?i)\s+and\s+", where):
        m = _PRED_RE.match(conj)
        if not m:
            continue
        if m.group("col"):
            col, op, lit = m.group("col"), m.group("op"), m.group("lit")
        else:
            col, op, lit = (m.group("col2"), FLIP[m.group("op2")],
                            m.group("lit2"))
        v = _parse_literal(lit)
        if v is None:
            continue
        out.append((col, "=" if op == "==" else op, v))
    return out


def file_may_match(stats: dict, preds: list[tuple[str, str, Any]]) -> bool:
    """Interval check: can a file with these [min,max] stats contain a
    row satisfying every predicate? Missing stats or incomparable
    types answer 'maybe' (True) — skipping must be conservative."""
    for col, op, v in preds:
        if col not in stats:
            continue
        lo, hi = stats[col]
        if lo is None or hi is None:
            continue
        try:
            if op == "=" and (v < lo or v > hi):
                return False
            if op == "<" and not lo < v:
                return False
            if op == "<=" and not lo <= v:
                return False
            if op == ">" and not hi > v:
                return False
            if op == ">=" and not hi >= v:
                return False
        except TypeError:
            continue  # literal type incomparable with the stats type
    return True


def partition_may_match(partition: dict, preds: list[tuple[str, str, Any]]) -> bool:
    """Hive-partition pruning: a file's partition value is a single
    point, so a predicate on a partition column is decided exactly
    (pv op v), not as an interval. Partition values are stored as
    strings; they are cast to the literal's type when possible, and
    any cast/compare failure conservatively answers 'maybe'."""
    for col, op, v in preds:
        if col not in partition:
            continue
        raw = partition[col]
        if raw is None:
            continue
        try:
            pv = raw if isinstance(v, str) else type(v)(raw)
        except (TypeError, ValueError):
            continue
        try:
            if op == "=" and pv != v:
                return False
            if op == "<" and not pv < v:
                return False
            if op == "<=" and not pv <= v:
                return False
            if op == ">" and not pv > v:
                return False
            if op == ">=" and not pv >= v:
                return False
        except TypeError:
            continue
    return True


# ----------------------------------------------------- bloom file skipping

# Table properties configuring per-file bloom filters (equivalent of
# Delta's bloom-filter index / delta.bloomFilter.* and Parquet column
# bloom filters): equality lookups on high-cardinality columns where
# [min, max] never prunes (uuids, hashes — every file spans the whole
# value space).
BLOOM_COLS_PROP = "graft.bloomFilter.columns"  # comma-separated logical names
BLOOM_FPP_PROP = "graft.bloomFilter.fpp"       # default 0.01


def _bloom_eligible(v: Any) -> bool:
    """Only types whose canonical bytes provably agree between the
    write side (python values read back from the parquet column) and
    the read side (predicate literals) participate in blooms.
    Timestamps/dates/decimals do NOT: str(datetime) vs an ISO literal
    vs Decimal('2.00') hash different bytes, and unlike min/max
    skipping a bloom miss is a DEFINITIVE prune — a mismatch silently
    drops matching files (wrong results). Such values are skipped when
    building and answer 'maybe' when probing."""
    return isinstance(v, (str, bool, int, float))


def _bloom_key(v: Any) -> bytes:
    """Canonical bytes for a value — MUST agree between the write side
    (python values from the footer/column read) and the read side
    (parsed predicate literals). Ints and floats that are whole numbers
    canonicalize identically (1 == 1.0); everything else via str.
    Callers must pre-filter with :func:`_bloom_eligible`."""
    if isinstance(v, bool):
        return b"t" if v else b"f"
    if isinstance(v, float) and v.is_integer():
        v = int(v)
    return str(v).encode("utf-8")


def _bloom_hashes(v: Any, k: int, m: int) -> list[int]:
    """k bit positions by double hashing (h1 + i*h2 mod m) over a
    blake2b-16 digest — deterministic across processes (no PYTHONHASHSEED
    dependence)."""
    d = hashlib.blake2b(_bloom_key(v), digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def bloom_build(values, fpp: float = 0.01) -> dict | None:
    """Build {m, k, b64} for the distinct values of one file's column.
    Sized for the observed distinct count: m = -n ln(fpp) / ln(2)^2.
    Returns None if ANY non-null value is bloom-ineligible: a partial
    bitset would answer a definitive (wrong) False for values that
    were silently skipped — no bloom is safe, a partial one is not."""
    seen_ineligible = False
    vals = set()
    for v in values:
        if v is None:
            continue
        if _bloom_eligible(v):
            vals.add(v)
        else:
            seen_ineligible = True
    if seen_ineligible:
        return None
    n = max(1, len(vals))
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, round(m / n * math.log(2)))
    bits = bytearray((m + 7) // 8)
    for v in vals:
        for pos in _bloom_hashes(v, k, m):
            bits[pos // 8] |= 1 << (pos % 8)
    return {"m": m, "k": k,
            "b64": base64.b64encode(bytes(bits)).decode("ascii")}


def bloom_might_contain(bloom: dict, v: Any) -> bool:
    """False = definitely absent from the file; True = maybe present.
    Ineligible value types (timestamps/dates/decimals — see
    :func:`_bloom_eligible`) conservatively answer True: they were
    never added on the write side, so a bitset probe would be a
    wrong-results definitive prune, not a safe miss."""
    if not _bloom_eligible(v):
        return True
    try:
        m, k = int(bloom["m"]), int(bloom["k"])
        bits = base64.b64decode(bloom["b64"])
    except (KeyError, TypeError, ValueError):
        return True  # malformed -> conservative
    return all(bits[pos // 8] & (1 << (pos % 8))
               for pos in _bloom_hashes(v, k, m))


def collect_file_bloom(abs_path: str, cols: list[str],
                       fpp: float = 0.01) -> dict:
    """Per-column bloom filters for one parquet file, read driver-side
    with pyarrow. NOT on the write path (the write job builds blooms
    distributedly via :func:`collect_blooms_distributed`); kept as a
    single-file utility for tooling/tests and as the independent
    reference implementation the distributed build is checked against.
    """
    import pyarrow.parquet as pq_

    pf = pq_.ParquetFile(abs_path)
    present = [c for c in cols if c in pf.schema_arrow.names]
    if not present:
        return {}
    tbl = pf.read(columns=present)
    out = {}
    for c in present:
        b = bloom_build(
            (v for v in tbl.column(c).to_pylist() if v is not None), fpp)
        if b is not None:
            out[c] = b
    return out


def collect_blooms_distributed(spark, staging_dir: str, cols: list[str],
                               fpp: float = 0.01) -> dict[str, dict]:
    """Per-file bloom filters for EVERY parquet file under a staging
    directory, computed inside the cluster in one job — the write-path
    replacement for :func:`collect_file_bloom`, which read every value
    of every bloom column through the driver (the one driver-side data
    read this engine had).

    Shape: project (input_file_name, bloom columns) off a distributed
    scan of the staging dir, shuffle by file name (volume = the bloom
    columns only, never the full rows), and build each file's filters
    in an Arrow-batched ``applyInPandas`` group — one group per file,
    bounded by the size-targeted staging files (~64 MB). Only the
    serialized filters (~KB per file x column) come back to the
    driver. No per-row Python UDFs; the pandas group is the same
    Arrow-batch shape the multimodal extractors use.

    Returns {absolute_file_path: {col: bloom}} with the same
    eligibility rules as :func:`bloom_build` (a column whose group
    saw any ineligible value gets no bloom).
    """
    import urllib.parse

    from pyspark.sql import functions as F

    df = spark.read.parquet(staging_dir)
    present = [c for c in cols if c in df.columns]
    if not present:
        return {}

    def _build(pdf):
        import pandas as pd

        out = []
        fname = pdf["__file"].iloc[0]
        for c in present:
            # .tolist() materializes PYTHON scalars (int/float/str/
            # bool), not numpy ones — _bloom_eligible depends on that.
            # Nullable ints surface as whole floats; _bloom_key
            # canonicalizes those back to int bytes.
            b = bloom_build(pdf[c].dropna().tolist(), fpp)
            if b is not None:
                out.append((fname, c, int(b["m"]), int(b["k"]), b["b64"]))
        return pd.DataFrame(
            out, columns=["file", "col", "m", "k", "b64"])

    rows = (
        df.select(F.input_file_name().alias("__file"), *present)
        .groupBy("__file")
        .applyInPandas(
            _build, schema="file string, col string, m long, k long, b64 string")
        .collect()
    )
    out: dict[str, dict] = {}
    for r in rows:
        # input_file_name yields a percent-encoded file: URI
        path = urllib.parse.unquote(
            urllib.parse.urlparse(r["file"]).path)
        out.setdefault(path, {})[r["col"]] = {
            "m": r["m"], "k": r["k"], "b64": r["b64"]}
    return out


def bloom_may_match(bloom: dict, preds: list[tuple[str, str, Any]]) -> bool:
    """Equality-predicate bloom check: False only when some ``col = v``
    predicate hits a definitely-absent bloom verdict."""
    for col, op, v in preds:
        if op != "=" or col not in bloom or v is None:
            continue
        if not bloom_might_contain(bloom[col], v):
            return False
    return True
