"""On-disk table format: metadata, snapshots, manifests.

A from-scratch, Iceberg-v2-inspired layout (the sandbox has no Iceberg
runtime jar, so the metadata layer itself is part of the engine — it mirrors
what moonlink's ``FileCatalog`` writes,
reference: src/moonlink/src/storage/iceberg/file_catalog.rs:15-41):

    <root>/
      data/<commit-uuid>/*.parquet        data files (written by Spark)
      deletes/<commit-uuid>/*.parquet     positional delete files
                                          (columns: file_path string, pos long)
      metadata/
        v<N>.metadata.json                full table metadata (exclusive-create
                                          = CAS commit, like Iceberg Hadoop
                                          catalog / moonlink file_catalog.rs:694-778)
        version-hint.text                 current version pointer
        manifest-<seq>-<uuid>.json        manifest: list of file entries

Snapshot semantics (reference: src/moonlink/src/storage/mooncake_table.rs:152-179
"A snapshot maps directly to an iceberg snapshot"):
- every commit produces a new snapshot with a monotone ``sequence_number``
- snapshot ``summary`` carries the moonlink flush LSN
  (``moonlink.table-flush-lsn``, reference:
  src/moonlink/src/storage/iceberg/iceberg_table_manager.rs:29-32)
- a positional delete file applies to a data file iff that data file is
  referenced by the same snapshot AND the data file's sequence number is
  <= the delete file's sequence number (Iceberg v2 rule; compaction rewrites
  make old delete rows dangling — dropped at manifest rewrite).

Metadata is tiny (JSON lists of file entries + stats); all row-level work is
Spark-side. At 10^12-image scale manifests would be parquet and the manifest
*list* would be hierarchical — the entry structure below is designed so that
swap is mechanical (entries are flat dicts).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import asdict, dataclass, field

from moonlink_spark.table.io import accessor_for

FORMAT_VERSION = 1
LSN_PROP = "moonlink.table-flush-lsn"

DATA = "data"
DELETES = "deletes"
# equality deletes (Iceberg v2): rows of IDENTITY-KEY values that delete
# every matching row in data files with sequence_number STRICTLY BELOW the
# delete file's — the batch analog of moonlink buffering deletes by key and
# resolving them later (mooncake_table.rs:1160-1184 delete-by-lookup,
# resolved at snapshot time). Written by lazy MERGE; folded by compaction.
EQ_DELETES = "eq-deletes"

# The one rule for which string names a data file: Spark reports
# ``_metadata.file_path`` as ``file:/a`` and delete files record ``/a``, while
# a ``file://`` table's manifests keep ``file:///a``. Every comparison of a
# path read from a file with a manifest path goes through it (Column form:
# table/scan.py ``_norm_path``).
FILE_SCHEME_RE = r"^file:/+"


def norm_path(path: str) -> str:
    """``file:/a``, ``file:///a`` -> ``/a``; any other path unchanged."""
    return re.sub(FILE_SCHEME_RE, "/", path)


@dataclass
class FileEntry:
    """One data or positional-delete file tracked by a manifest.

    ``stats`` maps column name -> {"min": v, "max": v, "nulls": n} for
    orderable scalar columns (reference stats fold:
    src/moonlink/src/storage/iceberg/parquet_stats_utils.rs:327-412).
    """

    content: str  # "data" | "deletes"
    path: str  # absolute path
    record_count: int
    file_size_bytes: int
    sequence_number: int
    stats: dict = field(default_factory=dict)
    # hash-bucket of the merge key for every row in this file, or None if the
    # file is not bucket-pure (pre-bucketing files, clustering rewrites).
    # The Spark-native analog of moonlink's persisted bucketed hash index
    # (reference: src/moonlink/src/storage/index/persisted_bucket_hash_map.rs:25-93):
    # MERGE probes read only the buckets its CDC keys hash into.
    bucket: int | None = None

    def to_dict(self) -> dict:
        return asdict(self)

    @staticmethod
    def from_dict(d: dict) -> "FileEntry":
        d = dict(d)
        d.setdefault("bucket", None)
        return FileEntry(**d)


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    sequence_number: int
    timestamp_ms: int
    manifests: list[str]  # absolute manifest paths (the manifest list)
    summary: dict = field(default_factory=dict)
    # where this snapshot is persisted (snap-<id>-<uuid>.json); set at write
    file: str | None = None

    def to_dict(self) -> dict:
        return asdict(self)

    @staticmethod
    def from_dict(d: dict) -> "Snapshot":
        d = dict(d)
        d.setdefault("file", None)
        return Snapshot(**d)


@dataclass
class TableMetadata:
    table_uuid: str
    location: str
    schema_json: dict  # Spark StructType.jsonValue()
    version: int
    last_sequence_number: int
    last_snapshot_id: int
    current_snapshot_id: int | None
    snapshots: list[Snapshot]
    properties: dict = field(default_factory=dict)
    # where ROW data (parquet) lives when split from the metadata root —
    # e.g. metadata on an object store (CAS protocol) with data on a
    # Spark/pyarrow-readable filesystem. None = same root as ``location``.
    data_location: str | None = None
    # named refs (Iceberg's refs map): name -> {"snapshot_id": int,
    # "type": "tag"|"branch", "created_at_ms": int, "max_ref_age_ms": int?}.
    # ``main`` is implicit (current_snapshot_id), never stored here.
    refs: dict = field(default_factory=dict)

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        raise KeyError(f"snapshot {snapshot_id} not found (expired?)")

    def current_snapshot(self) -> Snapshot | None:
        if self.current_snapshot_id is None:
            return None
        return self.snapshot_by_id(self.current_snapshot_id)

    def to_dict(self) -> dict:
        """Metadata is O(delta): snapshots live in their own snap-*.json
        objects (written once at commit, immutable); the metadata version
        carries only their paths. A commit therefore writes one snapshot
        object + one small metadata object, never the full history
        (manifest-list indirection: each snapshot object holds its manifest
        paths — moonlink/Iceberg's snapshot → manifest-list → manifests
        chain, reference: src/moonlink/src/storage/iceberg/puffin_writer_proxy.rs:252-352)."""
        d = asdict(self)
        d["format_version"] = FORMAT_VERSION
        snaps = d.pop("snapshots")
        if all(s.get("file") for s in snaps):
            d["snapshot_files"] = [s["file"] for s in snaps]
        else:  # snapshots not individually persisted (legacy/tests)
            d["snapshots"] = snaps
        return d

    @staticmethod
    def from_dict(d: dict) -> "TableMetadata":
        d = dict(d)
        d.pop("format_version", None)
        d.setdefault("data_location", None)
        d.setdefault("refs", {})
        files = d.pop("snapshot_files", None)
        if files is not None:
            d["snapshots"] = [read_snapshot(p) for p in files]
        else:
            d["snapshots"] = [Snapshot.from_dict(s) for s in d["snapshots"]]
        return TableMetadata(**d)


# ---------------------------------------------------------------- manifest IO
#
# Snapshot and manifest objects are written ONCE under uuid-suffixed names
# and never modified — so they are cached by path, making refresh() and
# entries() O(unseen objects) instead of O(history): after one commit a
# refresh reads exactly the new metadata version + the one new snapshot
# object, and re-listing manifests costs zero IO (moonlink reuses manifests
# by reference for the same reason,
# reference: src/moonlink/src/storage/iceberg/puffin_writer_proxy.rs:252-352).
# The caches hold PARSED JSON; reader functions rebuild dataclasses per call
# so callers can mutate their copies freely. Bounded LRU to stay
# long-process-safe.

_CACHE_MAX = 4096


class _LRU(dict):
    def put(self, k, v):
        if k in self:
            del self[k]
        elif len(self) >= _CACHE_MAX:
            del self[next(iter(self))]
        self[k] = v


_manifest_cache = _LRU()
_snapshot_cache = _LRU()


def clear_metadata_cache() -> None:
    """Test hook / explicit invalidation (objects are immutable; only needed
    when a test re-creates a table at a path that aliases a cached one —
    impossible in production because names carry uuids)."""
    _manifest_cache.clear()
    _snapshot_cache.clear()


# Manifest format: "json" (default — human-readable, ideal for the
# O(100)-file tables tests exercise) or "parquet" (columnar, zstd, one row
# per entry with stats as a compact JSON string column). Parquet manifests
# are the 10^9-file posture: ~20-50x smaller than JSON, driver reads decode
# via pyarrow (no per-entry json.loads of a giant document), and — because
# they are plain parquet on Spark-readable storage — scan planning itself
# can run DISTRIBUTED over them (table/planning.py) so the driver only ever
# materializes the entries that survive pruning. Iceberg stores manifests as
# Avro rows for exactly these reasons; moonlink inherits that via its
# Iceberg sync (reference: src/moonlink/src/storage/iceberg/
# iceberg_table_syncer.rs:398-454).
MANIFEST_FORMAT_PROP = "write.manifest-format"
# safety net: above this entry count a manifest is written parquet even on
# json-format tables — a single JSON document this large is a driver hazard
PARQUET_MANIFEST_AUTO_MIN = 4096


def write_manifest(
    metadata_dir: str,
    sequence_number: int,
    entries: list[FileEntry],
    fmt: str | None = None,
) -> str:
    dicts = [e.to_dict() for e in entries]
    if fmt is None:
        fmt = "json"
    if fmt != "parquet" and len(dicts) >= PARQUET_MANIFEST_AUTO_MIN:
        fmt = "parquet"
    ext = "parquet" if fmt == "parquet" else "json"
    path = os.path.join(
        metadata_dir, f"manifest-{sequence_number}-{uuid.uuid4().hex[:12]}.{ext}"
    )
    if fmt == "parquet":
        accessor_for(path).write_atomic_bytes(path, _manifest_parquet_bytes(dicts))
    else:
        accessor_for(path).write_atomic(path, json.dumps({"entries": dicts}))
    _manifest_cache.put(path, dicts)
    return path


_MANIFEST_COLS = (
    "content",
    "path",
    "record_count",
    "file_size_bytes",
    "sequence_number",
    "bucket",
)


def _manifest_parquet_bytes(dicts: list[dict]) -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("content", pa.string()),
            ("path", pa.string()),
            ("record_count", pa.int64()),
            ("file_size_bytes", pa.int64()),
            ("sequence_number", pa.int64()),
            ("bucket", pa.int32()),
            ("stats", pa.string()),  # per-entry JSON — small (blooms are sidecars)
        ]
    )
    cols = {c: [d[c] for d in dicts] for c in _MANIFEST_COLS}
    cols["stats"] = [json.dumps(d["stats"], separators=(",", ":")) for d in dicts]
    sink = pa.BufferOutputStream()
    pq.write_table(pa.table(cols, schema=schema), sink, compression="zstd")
    return sink.getvalue().to_pybytes()


def _parse_manifest_parquet(data: bytes) -> list[dict]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = pq.read_table(pa.BufferReader(data)).to_pylist()
    for r in rows:
        r["stats"] = json.loads(r.pop("stats") or "{}")
    return rows


def read_manifest(path: str) -> list[FileEntry]:
    dicts = _manifest_cache.get(path)
    if dicts is None:
        acc = accessor_for(path)
        if path.endswith(".parquet"):
            dicts = _parse_manifest_parquet(acc.read_bytes(path))
        else:
            dicts = json.loads(acc.read_text(path))["entries"]
        _manifest_cache.put(path, dicts)
    return [FileEntry.from_dict(e) for e in dicts]


def write_snapshot(metadata_dir: str, snap: Snapshot) -> str:
    """Persist one snapshot as its own immutable object; returns its path
    (recorded in snap.file and referenced from table metadata)."""
    path = os.path.join(
        metadata_dir, f"snap-{snap.snapshot_id}-{uuid.uuid4().hex[:12]}.json"
    )
    snap.file = path
    d = snap.to_dict()
    accessor_for(path).write_atomic(path, json.dumps(d))
    _snapshot_cache.put(path, d)
    return path


def read_snapshot(path: str) -> Snapshot:
    d = _snapshot_cache.get(path)
    if d is None:
        d = json.loads(accessor_for(path).read_text(path))
        _snapshot_cache.put(path, d)
    return Snapshot.from_dict(d)


def now_ms() -> int:
    return int(time.time() * 1000)
