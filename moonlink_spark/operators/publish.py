"""Publish an engine snapshot as a genuine Apache Iceberg v2 table.

The reference's core deliverable is that the maintained table IS a standard
Iceberg table any engine reads with no moonlink code (README.md:84-105;
iceberg_table_manager.rs:29-32 persists through the iceberg-rust crate;
moonlink_datafusion/src/table_provider.rs:34-173 is just a thin reader).
This repo's native format mirrors Iceberg's concepts in its own
JSON/parquet dialect; :func:`publish_iceberg` closes the interop gap by
EXPORTING a snapshot as real Iceberg v2 metadata, written byte-up from the
public Iceberg table spec:

- ``metadata/v1.metadata.json`` + ``version-hint.text``
- one Avro manifest-list (``snap-*.avro``) per published snapshot
- Avro manifests (``*-m*.avro``) — data and delete manifests separated,
  entries carrying record counts, sizes, per-column lower/upper bounds in
  the spec's single-value binary serialization, and sequence numbers
- data files referenced IN PLACE (absolute paths — zero payload copy)
- the engine's packed deletion vectors converted to STANDARD v2
  position-delete parquet files (file_path fid 2147483546, pos fid
  2147483545, sorted)
- equality-delete files re-written with proper parquet field ids and
  ``equality_ids`` manifest metadata; the strictly-lower sequence rule is
  the same in both formats, so semantics carry over unchanged

:func:`read_published` is the check-side: it plans purely from the
PUBLISHED Iceberg metadata (version-hint → metadata.json → manifest list →
manifests, all parsed back from bytes), maps the manifest entries to the
engine's ``FileEntry`` and reads them through the same delete-application
core as every engine scan (``table.scan.read_files``) — no engine metadata
touched, and no second implementation of the v2 delete rules.
:func:`import_iceberg` materializes tables with live deletes through it.
tests/test_iceberg_publish.py additionally re-reads the Avro with an
independently written from-spec decoder and replays the delete semantics
in DuckDB directly over the published parquet (external-engine evidence
that needs no network; the DuckDB iceberg extension cannot be installed
offline).
"""

from __future__ import annotations

import json
import os
import struct
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from moonlink_spark.table import avro
from moonlink_spark.table.catalog import Table
from moonlink_spark.table.format import (
    DATA,
    DELETES,
    EQ_DELETES,
    FileEntry,
    norm_path,
    now_ms,
)
from moonlink_spark.table.io import accessor_for

#: Iceberg reserved field ids for position-delete files (table spec)
POS_DELETE_PATH_FID = 2147483546
POS_DELETE_POS_FID = 2147483545

_FIELD_ID_KEY = b"PARQUET:field_id"


# ------------------------------------------------------------ schema export


def _iceberg_type(dt, next_id: list) -> object:
    """Spark type → Iceberg schema-JSON type. ``next_id`` is a one-element
    counter for nested element/field ids (Iceberg requires every nested
    field to carry a unique id; the engine tracks ids only at the top
    level, so nested ids are assigned deterministically in DFS order)."""
    if isinstance(dt, StringType):
        return "string"
    if isinstance(dt, BinaryType):
        return "binary"
    if isinstance(dt, BooleanType):
        return "boolean"
    if isinstance(dt, IntegerType):
        return "int"
    if isinstance(dt, LongType):
        return "long"
    if isinstance(dt, FloatType):
        return "float"
    if isinstance(dt, DoubleType):
        return "double"
    if isinstance(dt, DateType):
        return "date"
    if isinstance(dt, TimestampType):
        return "timestamptz"
    if isinstance(dt, TimestampNTZType):
        return "timestamp"
    if isinstance(dt, DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, ArrayType):
        eid = next_id[0]
        next_id[0] += 1
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, StructType):
        fields = []
        ids = [next_id[0] + i for i in range(len(dt.fields))]
        next_id[0] += len(dt.fields)
        for f, fid in zip(dt.fields, ids):
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _iceberg_type(f.dataType, next_id),
                }
            )
        return {"type": "struct", "fields": fields}
    raise ValueError(f"type {dt.simpleString()} has no Iceberg mapping")


def iceberg_schema_json(schema: StructType, name_to_id: dict) -> dict:
    """Engine table schema → Iceberg schema JSON (schema-id 0). Top-level
    ids come from the table's PARQUET:field_id discipline (fieldids.py) so
    they MATCH the published data files' footers; nested ids are assigned
    above the top-level max."""
    next_id = [max(name_to_id.values()) + 1]
    fields = []
    for f in schema.fields:
        fields.append(
            {
                "id": int(name_to_id[f.name]),
                "name": f.name,
                "required": not f.nullable,
                "type": _iceberg_type(f.dataType, next_id),
            }
        )
    return {
        "type": "struct",
        "schema-id": 0,
        "fields": fields,
        "identifier-field-ids": [],
    }


def _bound_bytes(dt, v) -> bytes | None:
    """Iceberg single-value binary serialization of a stats bound."""
    try:
        if isinstance(dt, IntegerType):
            return struct.pack("<i", int(v))
        if isinstance(dt, LongType):
            return struct.pack("<q", int(v))
        if isinstance(dt, FloatType):
            return struct.pack("<f", float(v))
        if isinstance(dt, DoubleType):
            return struct.pack("<d", float(v))
        if isinstance(dt, StringType):
            return str(v).encode("utf-8")
    except (ValueError, TypeError, struct.error):
        return None
    return None  # other types: omit the bound (optional metadata)


# ----------------------------------------------------------- avro schemas


def _opt(name, typ, fid, extra=None):
    f = {"name": name, "type": ["null", typ], "default": None, "field-id": fid}
    if extra:
        f.update(extra)
    return f


def _req(name, typ, fid):
    return {"name": name, "type": typ, "field-id": fid}


def _int_keyed_map(name, key_fid, value_fid, value_type="bytes"):
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                _req("key", "int", key_fid),
                _req("value", value_type, value_fid),
            ],
        },
    }


def manifest_entry_schema() -> dict:
    """Avro schema of a v2 manifest entry (unpartitioned spec)."""
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            _req("content", "int", 134),
            _req("file_path", "string", 100),
            _req("file_format", "string", 101),
            _req(
                "partition",
                {"type": "record", "name": "r102", "fields": []},
                102,
            ),
            _req("record_count", "long", 103),
            _req("file_size_in_bytes", "long", 104),
            _opt("lower_bounds", _int_keyed_map("k126_v127", 126, 127), 125),
            _opt("upper_bounds", _int_keyed_map("k129_v130", 129, 130), 128),
            _opt(
                "equality_ids",
                {"type": "array", "items": "int", "element-id": 136},
                135,
            ),
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            _req("status", "int", 0),
            _opt("snapshot_id", "long", 1),
            _opt("sequence_number", "long", 3),
            _opt("file_sequence_number", "long", 4),
            _req("data_file", data_file, 2),
        ],
    }


def manifest_list_schema() -> dict:
    """Avro schema of a v2 manifest-list entry (``manifest_file``)."""
    return {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            _req("manifest_path", "string", 500),
            _req("manifest_length", "long", 501),
            _req("partition_spec_id", "int", 502),
            _req("content", "int", 517),
            _req("sequence_number", "long", 515),
            _req("min_sequence_number", "long", 516),
            _req("added_snapshot_id", "long", 503),
            _req("added_files_count", "int", 504),
            _req("existing_files_count", "int", 505),
            _req("deleted_files_count", "int", 506),
            _req("added_rows_count", "long", 512),
            _req("existing_rows_count", "long", 513),
            _req("deleted_rows_count", "long", 514),
        ],
    }


def _sync(seed: str) -> bytes:
    return uuid.uuid5(uuid.NAMESPACE_URL, seed).bytes


# -------------------------------------------------------------- delete IO


def _write_pos_deletes(
    spark: SparkSession, table: Table, delete_entries: list[FileEntry], data_dir: str
) -> list[tuple[str, int, int, int]]:
    """Engine DV files → ONE standard position-delete parquet file (sorted
    by file_path, pos; reserved field ids). Returns
    [(path, rows, bytes, seq)] — empty when the snapshot has no deletes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from moonlink_spark.table.dv import read_delete_positions

    if not delete_entries:
        return []
    pdf = (
        read_delete_positions(spark, delete_entries)
        .orderBy("file_path", "pos")
        .toPandas()
    )
    schema = pa.schema(
        [
            pa.field(
                "file_path",
                pa.string(),
                nullable=False,
                metadata={_FIELD_ID_KEY: str(POS_DELETE_PATH_FID).encode()},
            ),
            pa.field(
                "pos",
                pa.int64(),
                nullable=False,
                metadata={_FIELD_ID_KEY: str(POS_DELETE_POS_FID).encode()},
            ),
        ]
    )
    t = pa.table(
        [pa.array(pdf["file_path"], pa.string()), pa.array(pdf["pos"], pa.int64())],
        schema=schema,
    )
    path = os.path.join(data_dir, f"pos-deletes-{uuid.uuid4().hex}.parquet")
    pq.write_table(t, path)
    seq = max(e.sequence_number for e in delete_entries)
    return [(path, t.num_rows, os.path.getsize(path), seq)]


def _write_eq_deletes(
    table: Table, eq_entries: list[FileEntry], data_dir: str, name_to_id: dict
) -> list[tuple[str, int, int, int, list[int]]]:
    """Engine equality-delete files → standard v2 equality-delete parquet
    (key columns stamped with the TABLE's field ids, per-file sequence
    numbers preserved — the strictly-lower application rule matches)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = []
    for e in eq_entries:
        src = pq.read_table(e.path)
        fields = []
        eq_ids = []
        for name in src.schema.names:
            fid = int(name_to_id[name])
            eq_ids.append(fid)
            fields.append(
                pa.field(
                    name,
                    src.schema.field(name).type,
                    nullable=False,
                    metadata={_FIELD_ID_KEY: str(fid).encode()},
                )
            )
        t = src.cast(pa.schema(fields))
        path = os.path.join(data_dir, f"eq-deletes-{uuid.uuid4().hex}.parquet")
        pq.write_table(t, path)
        out.append(
            (path, t.num_rows, os.path.getsize(path), e.sequence_number, eq_ids)
        )
    return out


# ----------------------------------------------------------------- publish


@dataclass
class PublishResult:
    location: str
    metadata_path: str
    snapshot_id: int
    data_files: int
    pos_delete_files: int
    eq_delete_files: int


def publish_iceberg(
    spark: SparkSession,
    table: Table,
    dest: str,
    snapshot_id: int | None = None,
) -> PublishResult:
    """Export one engine snapshot as a standalone Iceberg v2 table rooted
    at ``dest``. Data files are referenced in place (zero copy); deletes
    are converted to standard v2 delete files; metadata is written from
    the public Iceberg spec. Re-publishing overwrites ``dest``'s metadata
    atomically via the version-hint."""
    from moonlink_spark.table.fieldids import schema_field_id_map

    # manifests, metadata and delete files are written with local file I/O
    for what, loc in (("destination", dest), ("source table", table.location)):
        if "://" in loc and not loc.startswith("file://"):
            raise ValueError(
                f"publish_iceberg writes local files only; {what} {loc!r} "
                "is not a local path or file:// URI"
            )
    dest = norm_path(dest)
    table.refresh()
    snap = table.head_snapshot(snapshot_id)
    if snap is None:
        raise ValueError("table has no snapshot to publish")
    name_to_id = schema_field_id_map(table.schema)
    if not name_to_id:
        raise ValueError(
            "publish requires a field-id-stamped table schema (all engine "
            "tables created by create_table have one)"
        )
    schema_json = iceberg_schema_json(table.schema, name_to_id)

    meta_dir = os.path.join(dest, "metadata")
    data_dir = os.path.join(dest, "data")
    acc = accessor_for(dest)
    acc.mkdirs(meta_dir)
    acc.mkdirs(data_dir)

    data_entries = table.entries(snap.snapshot_id, DATA)
    pos = _write_pos_deletes(
        spark, table, table.entries(snap.snapshot_id, DELETES), data_dir
    )
    eqs = _write_eq_deletes(
        table, table.entries(snap.snapshot_id, EQ_DELETES), data_dir, name_to_id
    )

    entry_schema = manifest_entry_schema()
    by_type = {f.name: f.dataType for f in table.schema.fields}

    def _bounds(e: FileEntry, which: str):
        out = []
        for name, fid in sorted(name_to_id.items(), key=lambda kv: kv[1]):
            st = e.stats.get(name)
            if not isinstance(st, dict) or st.get(which) is None:
                continue
            b = _bound_bytes(by_type[name], st[which])
            if b is not None:
                out.append({"key": fid, "value": b})
        return out or None

    def _entry(content, path, rows, size, seq, lo=None, hi=None, eq_ids=None):
        return {
            "status": 1,  # ADDED (single published snapshot)
            "snapshot_id": snap.snapshot_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": content,
                "file_path": path,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": rows,
                "file_size_in_bytes": size,
                "lower_bounds": lo,
                "upper_bounds": hi,
                "equality_ids": eq_ids,
            },
        }

    data_records = [
        _entry(
            0,
            e.path,
            e.record_count,
            e.file_size_bytes,
            e.sequence_number,
            _bounds(e, "min"),
            _bounds(e, "max"),
        )
        for e in data_entries
    ]
    delete_records = [
        _entry(1, p, rows, size, seq) for p, rows, size, seq in pos
    ] + [
        _entry(2, p, rows, size, seq, eq_ids=eq_ids)
        for p, rows, size, seq, eq_ids in eqs
    ]

    ocf_meta = {
        "schema": json.dumps(schema_json),
        "schema-id": "0",
        "partition-spec": "[]",
        "partition-spec-id": "0",
        "format-version": "2",
    }

    def _write_manifest(records, content_name, idx):
        path = os.path.join(meta_dir, f"{uuid.uuid4().hex}-m{idx}.avro")
        data = avro.write_container(
            entry_schema,
            records,
            _sync(f"manifest:{snap.snapshot_id}:{content_name}"),
            meta={**ocf_meta, "content": content_name},
        )
        with open(path, "wb") as f:
            f.write(data)
        return path, len(data)

    manifests = []
    if data_records:
        manifests.append(("data", 0, *_write_manifest(data_records, "data", 0)))
    if delete_records:
        manifests.append(
            ("deletes", 1, *_write_manifest(delete_records, "deletes", 1))
        )

    seq_of = {
        "data": [r["sequence_number"] for r in data_records] or [0],
        "deletes": [r["sequence_number"] for r in delete_records] or [0],
    }
    rows_of = {
        "data": sum(r["data_file"]["record_count"] for r in data_records),
        "deletes": sum(r["data_file"]["record_count"] for r in delete_records),
    }
    ml_records = [
        {
            "manifest_path": mpath,
            "manifest_length": mlen,
            "partition_spec_id": 0,
            "content": content_code,
            "sequence_number": max(seq_of[kind]),
            "min_sequence_number": min(seq_of[kind]),
            "added_snapshot_id": snap.snapshot_id,
            "added_files_count": len(data_records if kind == "data" else delete_records),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": rows_of[kind],
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
        for kind, content_code, mpath, mlen in manifests
    ]
    ml_path = os.path.join(
        meta_dir, f"snap-{snap.snapshot_id}-1-{uuid.uuid4().hex}.avro"
    )
    ml_bytes = avro.write_container(
        manifest_list_schema(),
        ml_records,
        _sync(f"manifest-list:{snap.snapshot_id}"),
        meta={"format-version": "2"},
    )
    with open(ml_path, "wb") as f:
        f.write(ml_bytes)

    last_seq = max(
        [snap.sequence_number]
        + [r["sequence_number"] for r in data_records + delete_records]
    )
    last_col = max(
        [int(n) for n in _collect_ids(schema_json)] or [max(name_to_id.values())]
    )
    md = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, table.md.table_uuid)),
        "location": dest,
        "last-sequence-number": last_seq,
        "last-updated-ms": now_ms(),
        "last-column-id": last_col,
        "current-schema-id": 0,
        "schemas": [schema_json],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "moonlink.published-from": table.location,
            "moonlink.published-lsn": str(
                snap.summary.get("lsn", table.flush_lsn or 0)
            ),
            # spec name-mapping: files in the published table may predate
            # field-id stamping (bulk-ingested foreign parquet); readers
            # fall back to resolving their columns by name
            "schema.name-mapping.default": json.dumps(
                [
                    {"field-id": int(fid), "names": [name]}
                    for name, fid in sorted(
                        name_to_id.items(), key=lambda kv: kv[1]
                    )
                ]
            ),
        },
        "current-snapshot-id": snap.snapshot_id,
        "refs": {"main": {"snapshot-id": snap.snapshot_id, "type": "branch"}},
        "snapshots": [
            {
                "snapshot-id": snap.snapshot_id,
                "sequence-number": last_seq,
                "timestamp-ms": snap.timestamp_ms,
                "manifest-list": ml_path,
                "summary": {
                    "operation": "append",
                    "moonlink-lsn": str(snap.summary.get("lsn", "")),
                },
                "schema-id": 0,
            }
        ],
        "snapshot-log": [
            {"snapshot-id": snap.snapshot_id, "timestamp-ms": snap.timestamp_ms}
        ],
        "metadata-log": [],
        "statistics": [],
    }
    # re-publish increments the metadata version: vN+1.metadata.json is
    # written FIRST, then the version-hint flips atomically — a reader
    # following the hint always sees a complete metadata object
    hint_path = os.path.join(meta_dir, "version-hint.text")
    version = 1
    if acc.exists(hint_path):
        try:
            version = int(acc.read_text(hint_path).strip()) + 1
        except ValueError:
            version = 1
        prev = os.path.join(meta_dir, f"v{version - 1}.metadata.json")
        if acc.exists(prev):
            md["metadata-log"] = [
                {"timestamp-ms": now_ms(), "metadata-file": prev}
            ]
    md_path = os.path.join(meta_dir, f"v{version}.metadata.json")
    with open(md_path, "w") as f:
        json.dump(md, f, indent=2)
    acc.write_atomic(hint_path, str(version))
    return PublishResult(
        location=dest,
        metadata_path=md_path,
        snapshot_id=snap.snapshot_id,
        data_files=len(data_records),
        pos_delete_files=len(pos),
        eq_delete_files=len(eqs),
    )


def _collect_ids(sch) -> list[int]:
    out = []
    if isinstance(sch, dict):
        for k, v in sch.items():
            if k in ("id", "element-id") and isinstance(v, int):
                out.append(v)
            else:
                out.extend(_collect_ids(v))
    elif isinstance(sch, list):
        for v in sch:
            out.extend(_collect_ids(v))
    return out


# ------------------------------------------------------------------- read


def _load_published(location: str) -> tuple[dict, list[dict], list[dict]]:
    """Parse published Iceberg metadata → (metadata.json, data entries,
    delete entries), the raw live manifest-entry dicts."""
    meta_dir = os.path.join(location, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        md = json.load(f)
    snap = next(
        s
        for s in md["snapshots"]
        if s["snapshot-id"] == md["current-snapshot-id"]
    )
    with open(snap["manifest-list"], "rb") as f:
        _, _, manifest_files = avro.read_container(f.read())
    data, deletes = [], []
    for mf in manifest_files:
        with open(mf["manifest_path"], "rb") as f:
            _, _, entries = avro.read_container(f.read())
        for e in entries:
            if e["status"] == 2:  # DELETED entries are not live
                continue
            (data if mf["content"] == 0 else deletes).append(e)
    return md, data, deletes


def _current_schema(md: dict) -> dict:
    """The schema ``current-schema-id`` names. Schemas are selected by their
    ``schema-id``, never by list position: an evolved table's list need not
    be ordered or dense."""
    sid = md["current-schema-id"]
    for s in md["schemas"]:
        if s["schema-id"] == sid:
            return s
    raise ValueError(f"metadata has no schema with schema-id {sid}")


def _spark_type(t):
    """Iceberg schema-JSON type → Spark type (the reader's direction)."""
    from pyspark.sql.types import StructField

    if isinstance(t, dict):
        if t["type"] == "list":
            return ArrayType(_spark_type(t["element"]), not t["element-required"])
        if t["type"] == "struct":
            return StructType(
                [
                    StructField(f["name"], _spark_type(f["type"]), not f["required"])
                    for f in t["fields"]
                ]
            )
        raise ValueError(f"unsupported nested type {t!r}")
    if t.startswith("decimal"):
        p, s = t[t.index("(") + 1 : t.index(")")].split(",")
        return DecimalType(int(p), int(s))
    simple = {
        "string": StringType(),
        "binary": BinaryType(),
        "boolean": BooleanType(),
        "int": IntegerType(),
        "long": LongType(),
        "float": FloatType(),
        "double": DoubleType(),
        "date": DateType(),
        "timestamptz": TimestampType(),
        "timestamp": TimestampNTZType(),
    }
    return simple[t]


def read_published(spark: SparkSession, location: str) -> DataFrame:
    """Scan a PUBLISHED Iceberg table from its own metadata only — the
    in-process stand-in for an external engine. Planning reads only
    version-hint/metadata.json/Avro manifests; their entries map to
    ``FileEntry``s (position-delete files as v1 row files, ``equality_ids``
    as each equality-delete file's key list) and the engine's one
    delete-application core, ``table.scan.read_files``, reads them: the v2
    rules are the ones every engine scan applies. Columns resolve by NAME
    (the published ``schema.name-mapping.default``): data files may predate
    field-id stamping, and a mixed-history read must not fail."""
    from pyspark.sql.types import StructField

    from moonlink_spark.table.scan import read_files
    from moonlink_spark.table.writer import EQ_KEYS_STAT

    md, data_entries, delete_entries = _load_published(location)
    fields = _current_schema(md)["fields"]
    id_to_name = {f["id"]: f["name"] for f in fields}
    schema = StructType(
        [StructField(f["name"], _spark_type(f["type"]), True) for f in fields]
    )

    def entry(e: dict, content: str, stats: dict | None = None) -> FileEntry:
        f = e["data_file"]
        return FileEntry(
            content, f["file_path"], f["record_count"],
            f["file_size_in_bytes"], e["sequence_number"], stats or {},
        )

    pos = [entry(e, DELETES) for e in delete_entries if e["data_file"]["content"] == 1]
    eqs = [
        entry(e, EQ_DELETES, {EQ_KEYS_STAT: ",".join(
            id_to_name[i] for i in e["data_file"]["equality_ids"]
        )})
        for e in delete_entries
        if e["data_file"]["content"] == 2
    ]
    data = [entry(e, DATA) for e in data_entries]
    return read_files(spark, schema, [], data, pos, eqs)


# ----------------------------------------------------------------- import


def import_iceberg(
    spark: SparkSession,
    src_location: str,
    dest_location: str,
    properties: dict | None = None,
) -> Table:
    """The reverse direction: adopt an Iceberg v2 table (the published
    format — version-hint/metadata.json/Avro manifests) as a NEW engine
    table at ``dest_location``, so a user can move an existing Iceberg
    table under this engine's maintenance (the switch-over path a
    reference user needs).

    - A snapshot with NO live delete files imports zero-copy: the data
      files are adopted in place (`operators/ingest.add_files` — schema
      validated per distinct footer, foreign field ids forced onto the
      name-resolved branch).
    - A snapshot WITH live deletes is materialized: rows are read through
      ``read_published`` (v2 delete semantics applied) and written as
      fresh engine data files — deletes do not survive as metadata, the
      surviving ROWS do.
    """
    from moonlink_spark.operators.ingest import add_files
    from moonlink_spark.table.catalog import create_table
    from moonlink_spark.table.writer import write_data_files

    md, data_entries, delete_entries = _load_published(src_location)
    fields = _current_schema(md)["fields"]
    from pyspark.sql.types import StructField

    schema = StructType(
        [
            StructField(f["name"], _spark_type(f["type"]), not f["required"])
            for f in fields
        ]
    )
    t = create_table(dest_location, schema, properties=properties)
    lsn = 1
    if not delete_entries:
        add_files(
            spark, t, [e["data_file"]["file_path"] for e in data_entries], lsn=lsn
        )
    else:
        df = read_published(spark, src_location)
        entries = write_data_files(
            spark, df, t.new_data_dir(), field_id_schema=t.schema
        )
        t.commit("append", added=entries, lsn=lsn)
    return t.refresh()
