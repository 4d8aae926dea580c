"""Avro manifests + manifest lists with per-data-file min/max/null/row stats.

This is the data-skipping layer the reference gets from Delta/liquid clustering
("WHERE time >= ... efficient", `utilities/post_setup_ocsf_tables.py:25-29,78-81`).
Every data file carries per-column lower/upper bounds, null counts, and row
counts; the Python planner prunes manifest entries BEFORE building the Spark
scan, so Catalyst sees only surviving files (no custom rules needed).

Bounds are stored as JSON-encoded strings keyed by column name; comparisons are
restored per-type at prune time (`plans/pruning.py`). String upper bounds are
truncated-with-increment (Iceberg-style) so long `text` payloads do not bloat
metadata while remaining valid upper bounds.

Each process decodes a manifest or manifest list once. Both kinds of file
are write-once (uuid-named), so a decode stays valid for as long as the file
at its path is the same one. A read costs one ``os.stat``: the cache key is
``(path, st_size, st_mtime_ns)``, and a file replaced at the same path is
decoded again; a removed file raises ``FileNotFoundError`` as an uncached
read would. The cache is an LRU bounded by ``CACHE_BUDGET_BYTES`` of encoded
(on-disk) bytes, a module constant; decoded records take about 7x their
encoded size. A file larger than the budget is decoded on every read. A hit
is never shared mutably: every read returns fresh record dicts with fresh
maps and lists, so callers, and the ``DataFile`` objects built from the
records, may mutate what they get.

``decode_bound`` is memoised (an LRU of ``BOUND_CACHE_ENTRIES``): every plan
of a cached manifest compares the same bound strings again, and each decodes
to an immutable JSON scalar, so one decoded value serves every caller.
"""

from __future__ import annotations

import functools
import json
import os
import threading
from collections import OrderedDict
from dataclasses import dataclass, field

from . import avro
from ..session import local_frame

STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2

_STRING_BOUND_MAX = 32

# budget of the decoded-file cache, in encoded (on-disk) bytes
CACHE_BUDGET_BYTES = 16 * 1024 * 1024
# distinct bound strings kept decoded (a few bounds per column per live file)
BOUND_CACHE_ENTRIES = 1 << 16

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": "long"},
        {"name": "path", "type": "string"},
        {"name": "file_format", "type": "string"},
        {"name": "partition", "type": {"type": "map", "values": ["null", "string"]}},
        {"name": "record_count", "type": "long"},
        {"name": "file_size_bytes", "type": "long"},
        {"name": "lower_bounds", "type": {"type": "map", "values": "string"}},
        {"name": "upper_bounds", "type": {"type": "map", "values": "string"}},
        {"name": "null_counts", "type": {"type": "map", "values": "long"}},
        # content: "data" | "posdel" | "eqdel".
        #   posdel: positional-delete file — rows of (file_path, pos) marking
        #     deleted row positions (Iceberg v2 / Delta deletion-vector
        #     analogue). covered_paths lists the data files it references,
        #     for scan scoping and staleness cleanup.
        #   eqdel: equality-delete file — rows of key tuples (columns named
        #     by eq_columns); deletes any matching row in data files whose
        #     data_sequence is STRICTLY LESS than the delete's data_sequence
        #     (Iceberg v2 equality deletes). Written without scanning data —
        #     the O(keys) write path streaming upserts need at 10^12 rows.
        {"name": "content", "type": "string"},
        {"name": "covered_paths", "type": {"type": "array", "items": "string"}},
        # data_sequence: the sequence number this file's rows were committed
        # under. Rewrite products (compaction/clustering/merge) read through
        # the delete-applying scan, so they FOLD outstanding deletes and are
        # correctly stamped with the NEW sequence — prior eqdels no longer
        # apply to them. 0 = pre-feature entry (treated as oldest).
        {"name": "data_sequence", "type": "long", "default": 0},
        # eq_columns: equality key columns (eqdel files only)
        {"name": "eq_columns", "type": {"type": "array", "items": "string"},
         "default": []},
        # blooms: per-column encoded bloom bitsets keyed "bloom(col)"
        # (format/bloom.py) — point-lookup skipping where min/max cannot help
        {"name": "blooms", "type": {"type": "map", "values": "string"},
         "default": {}},
        # sort_order: layout spec this file was WRITTEN in, e.g.
        # "zorder(conv_id,turn_idx,ts)" (Iceberg's sort_order_id analogue).
        # Set only by the clustering writer; incremental clustering skips
        # files already carrying the current spec. Compaction/merge/delete
        # outputs leave it null (their writers do not globally order), so a
        # later clustering pass picks them up.
        {"name": "sort_order", "type": ["null", "string"], "default": None},
    ],
}

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "partition_summaries", "type": {"type": "map", "values": "string"}},
    ],
}


def truncate_lower(s: str, width: int = _STRING_BOUND_MAX) -> str:
    """A prefix of a string is always a valid lower bound."""
    return s[:width]


def truncate_upper(s: str, width: int = _STRING_BOUND_MAX) -> str | None:
    """Truncate + increment last char so the result still upper-bounds the value.

    Returns None when no valid truncated upper bound exists (all chars at max
    code point) — caller should then omit the bound (conservative).
    """
    if len(s) <= width:
        return s
    prefix = s[:width]
    chars = list(prefix)
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i])
        if cp < 0x10FFFF:
            chars[i] = chr(cp + 1)
            return "".join(chars[: i + 1])
    return None


def encode_bound(value) -> str:
    return json.dumps(value, default=str, separators=(",", ":"))


@functools.lru_cache(maxsize=BOUND_CACHE_ENTRIES)
def decode_bound(s: str):
    return json.loads(s)


@dataclass
class DataFile:
    path: str
    partition: dict[str, str | None]
    record_count: int
    file_size_bytes: int
    lower_bounds: dict[str, str] = field(default_factory=dict)
    upper_bounds: dict[str, str] = field(default_factory=dict)
    null_counts: dict[str, int] = field(default_factory=dict)
    file_format: str = "parquet"
    content: str = "data"
    covered_paths: list[str] = field(default_factory=list)
    blooms: dict[str, str] = field(default_factory=dict)
    data_sequence: int = 0
    eq_columns: list[str] = field(default_factory=list)
    sort_order: str | None = None

    def to_entry(self, status: int, snapshot_id: int) -> dict:
        return {
            "status": status,
            "snapshot_id": snapshot_id,
            "path": self.path,
            "file_format": self.file_format,
            "partition": self.partition,
            "record_count": self.record_count,
            "file_size_bytes": self.file_size_bytes,
            "lower_bounds": self.lower_bounds,
            "upper_bounds": self.upper_bounds,
            "null_counts": self.null_counts,
            "content": self.content,
            "covered_paths": self.covered_paths,
            "blooms": self.blooms,
            "data_sequence": self.data_sequence,
            "eq_columns": self.eq_columns,
            "sort_order": self.sort_order,
        }

    @staticmethod
    def from_entry(e: dict) -> "DataFile":
        return DataFile(
            path=e["path"],
            partition=e["partition"],
            record_count=e["record_count"],
            file_size_bytes=e["file_size_bytes"],
            lower_bounds=e["lower_bounds"],
            upper_bounds=e["upper_bounds"],
            null_counts=e["null_counts"],
            file_format=e.get("file_format", "parquet"),
            content=e.get("content", "data"),
            covered_paths=list(e.get("covered_paths") or []),
            blooms=dict(e.get("blooms") or {}),
            data_sequence=int(e.get("data_sequence") or 0),
            eq_columns=list(e.get("eq_columns") or []),
            sort_order=e.get("sort_order"),
        )


def write_manifest(path: str, files: list[DataFile], snapshot_id: int,
                   status: int = STATUS_ADDED,
                   sequence_number: int | None = None) -> dict:
    """Write one manifest; return its manifest_file record (for the manifest list).

    ``sequence_number`` stamps freshly-added files (``data_sequence == 0``)
    with the committing snapshot's sequence; survivors re-written as
    STATUS_EXISTING keep the sequence they were loaded with, so equality
    deletes keep applying to them across manifest rewrites.

    Stamping happens on the ENTRY dicts, never by mutating the input
    ``DataFile`` objects: the optimistic-commit retry loop re-invokes
    build() with the same file objects after a lost race, and an in-place
    stamp would freeze the FIRST attempt's sequence while the winning
    snapshot gets a higher one — silently breaking the strict
    ``data_sequence <`` equality-delete rule exactly in the multi-writer
    case the retry loop exists for."""
    entries = []
    for f in files:
        e = f.to_entry(status, snapshot_id)
        if sequence_number is not None and f.data_sequence == 0:
            e["data_sequence"] = sequence_number
        entries.append(e)
    avro.write_ocf(path, MANIFEST_ENTRY_SCHEMA, entries)

    # Partition summaries span the UNION of keys across entries (a manifest
    # rewrite may pack files from different partition-spec eras). A key is
    # summarized only when EVERY entry has a value for it: a pre-evolution
    # file has no value for a later-added field, and min/max over just the
    # post-evolution files would let prune_manifest_records drop the whole
    # manifest — and the old files' rows with it. Omitted key = unprunable
    # at the manifest level; the per-file _survives_partition stays exact.
    summaries: dict[str, str] = {}
    if files:
        keys: set[str] = set()
        for f in files:
            keys.update(f.partition.keys())
        for k in keys:
            vals = [f.partition.get(k) for f in files]
            if all(v is not None for v in vals):
                summaries[k] = json.dumps({"lo": min(vals), "hi": max(vals)})
    added = len(files) if status == STATUS_ADDED else 0
    existing = len(files) if status == STATUS_EXISTING else 0
    return {
        "path": path,
        "manifest_length": os.path.getsize(path),
        "added_snapshot_id": snapshot_id,
        "added_files_count": added,
        "existing_files_count": existing,
        "deleted_files_count": len(files) if status == STATUS_DELETED else 0,
        "added_rows_count": sum(f.record_count for f in files) if status == STATUS_ADDED else 0,
        "existing_rows_count": sum(f.record_count for f in files) if status == STATUS_EXISTING else 0,
        "partition_summaries": summaries,
    }


class _DecodeCache:
    """Decoded records by path, with the ``(st_size, st_mtime_ns)`` they
    were decoded at; LRU within ``CACHE_BUDGET_BYTES`` of encoded size."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        # path -> ((size, mtime_ns), nested field names, records)
        self._items: OrderedDict[
            str, tuple[tuple[int, int], tuple[str, ...], list[dict]]] = OrderedDict()
        self.nbytes = 0

    def read(self, path: str) -> list[dict]:
        """Fresh copies of the file's records. The decode runs outside the
        lock; two threads missing on one path both decode it."""
        st = os.stat(path)
        key = (st.st_size, st.st_mtime_ns)
        with self._lock:
            hit = self._items.get(path)
            if hit is not None and hit[0] == key:
                self._items.move_to_end(path)
                return _copy_records(hit[2], hit[1])
        schema, records = avro.read_ocf(path)
        nested = _nested_fields(schema)
        out = _copy_records(records, nested)
        if st.st_size <= CACHE_BUDGET_BYTES:
            with self._lock:
                old = self._items.pop(path, None)
                if old is not None:
                    self.nbytes -= old[0][0]
                self._items[path] = (key, nested, records)
                self.nbytes += st.st_size
                while self.nbytes > CACHE_BUDGET_BYTES:
                    _, (k, _, _) = self._items.popitem(last=False)
                    self.nbytes -= k[0]
        return out


_decoded = _DecodeCache()


def _nested_fields(schema: dict) -> tuple[str, ...]:
    """Record fields that decode to a map or an array."""
    return tuple(f["name"] for f in schema["fields"]
                 if isinstance(f["type"], dict)
                 and f["type"]["type"] in ("map", "array"))


def _copy_records(records: list[dict], nested: tuple[str, ...]) -> list[dict]:
    # map and array values hold only scalars, so one level of copy suffices
    out = []
    for r in records:
        c = r.copy()
        for k in nested:
            c[k] = c[k].copy()
        out.append(c)
    return out


def read_manifest(path: str) -> list[dict]:
    return _decoded.read(path)


def live_files(manifest_paths: list[str], content: str = "data") -> list[DataFile]:
    """All non-deleted entries of the given content kind across the manifests
    (``content="data"`` for data files, ``"posdel"`` for positional-delete
    files, ``None`` for everything)."""
    out: list[DataFile] = []
    for mp in manifest_paths:
        for e in read_manifest(mp):
            if e["status"] == STATUS_DELETED:
                continue
            if content is not None and e.get("content", "data") != content:
                continue
            out.append(DataFile.from_entry(e))
    return out


def write_manifest_list(path: str, manifest_files: list[dict]) -> None:
    avro.write_ocf(path, MANIFEST_FILE_SCHEMA, manifest_files)


def read_manifest_list(path: str) -> list[dict]:
    return _decoded.read(path)


def manifest_entries_df(spark, manifest_paths: list[str], *,
                        bound_cols: tuple[str, ...] = ()):
    """Distributed manifest scan: one row per LIVE data-file entry, parsed
    executor-side with the pure-Python Avro reader via ``mapInPandas``.

    The driver ships only manifest *paths* (O(manifests), metadata-sized);
    entry decoding — O(files) — fans out across executors. This is the scale
    path for planning over 10^9-file tables where ``live_files`` (driver
    decode) no longer fits: join/filter the returned DataFrame and collect
    only the scoped result.

    ``bound_cols`` adds ``lo_<i>``/``hi_<i>`` columns per requested stats
    column (indexed positionally to keep names SQL-safe), DECODED executor-
    side to plain strings — string bounds compare directly, numeric bounds
    cast with ``CAST(lo_i AS LONG)``.
    """
    import pandas as pd
    from pyspark.sql import types as T

    fields = [
        T.StructField("path", T.StringType()),
        T.StructField("partition", T.MapType(T.StringType(), T.StringType())),
        T.StructField("record_count", T.LongType()),
        T.StructField("file_size_bytes", T.LongType()),
    ]
    for i in range(len(bound_cols)):
        fields.append(T.StructField(f"lo_{i}", T.StringType()))
        fields.append(T.StructField(f"hi_{i}", T.StringType()))
    out_schema = T.StructType(fields)
    cols = list(bound_cols)

    def _scan(batches):
        for pdf in batches:
            rows = []
            for mp in pdf["manifest"]:
                for e in read_manifest(mp):
                    if e["status"] == STATUS_DELETED:
                        continue
                    if e.get("content", "data") != "data":
                        continue
                    row = [e["path"], e["partition"], e["record_count"],
                           e["file_size_bytes"]]
                    for c in cols:
                        for side in (e["lower_bounds"], e["upper_bounds"]):
                            b = side.get(c)
                            row.append(None if b is None else str(decode_bound(b)))
                    rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    paths_df = local_frame(
        spark, [(p,) for p in manifest_paths], "manifest string"
    ).repartition(max(1, min(len(manifest_paths), 64)))
    return paths_df.mapInPandas(_scan, out_schema)
