"""Metadata inspection tables — Iceberg's ``snapshots`` / ``files`` /
``history`` / ``manifests`` metadata-table surface as DataFrames.

The reference exposes table state through its RPC/read APIs
(src/moonlink_backend/src/lib.rs, table summaries in snapshot metadata);
Iceberg users reach the same facts via ``SELECT * FROM tbl.snapshots``.
Here each inspector returns a Spark DataFrame so observability queries
compose with everything else (joins against files, aggregations over
snapshot history).

Scale posture: ``files()`` on a parquet-manifest snapshot reads the
manifests THEMSELVES as a distributed dataset (the metadata-as-data shape
of table/planning.py) — never materializing 10^9 entries on the driver.
Snapshot/history/manifest listings are O(snapshots) and O(manifests),
which expiry and manifest rewrite keep bounded.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from moonlink_spark.session import local_frame
from moonlink_spark.table.catalog import Table
from moonlink_spark.table.format import read_manifest

_SNAPSHOTS_SCHEMA = StructType(
    [
        StructField("snapshot_id", LongType(), False),
        StructField("parent_id", LongType(), True),
        StructField("sequence_number", LongType(), False),
        StructField("timestamp_ms", LongType(), False),
        StructField("operation", StringType(), True),
        StructField("lsn", LongType(), True),
        StructField("added_files", LongType(), True),
        StructField("removed_files", LongType(), True),
        StructField("manifest_count", IntegerType(), False),
        StructField("summary", StringType(), False),
    ]
)


def snapshots(spark: SparkSession, table: Table) -> DataFrame:
    """One row per retained snapshot (Iceberg's ``tbl.snapshots``)."""
    table.refresh()
    rows = []
    for s in table.md.snapshots:
        sm = s.summary or {}
        rows.append(
            (
                s.snapshot_id,
                s.parent_id,
                s.sequence_number,
                s.timestamp_ms,
                sm.get("operation"),
                int(sm["lsn"]) if "lsn" in sm else None,
                int(sm["added-files"]) if "added-files" in sm else None,
                int(sm["removed-files"]) if "removed-files" in sm else None,
                len(s.manifests),
                json.dumps(sm, sort_keys=True),
            )
        )
    return local_frame(spark, rows, _SNAPSHOTS_SCHEMA)


_HISTORY_SCHEMA = StructType(
    [
        StructField("snapshot_id", LongType(), False),
        StructField("parent_id", LongType(), True),
        StructField("timestamp_ms", LongType(), False),
        StructField("lsn", LongType(), True),
        StructField("is_current_ancestor", BooleanType(), False),
    ]
)


def history(spark: SparkSession, table: Table) -> DataFrame:
    """Snapshot log with lineage flags (Iceberg's ``tbl.history``): after a
    rollback, undone commits stay listed but are NOT current ancestors —
    exactly the flag consumers (changelog, sync) use to skip them."""
    table.refresh()
    ancestors = table.ancestor_ids()
    rows = [
        (
            s.snapshot_id,
            s.parent_id,
            s.timestamp_ms,
            int(s.summary["lsn"]) if "lsn" in (s.summary or {}) else None,
            s.snapshot_id in ancestors,
        )
        for s in sorted(table.md.snapshots, key=lambda s: s.sequence_number)
    ]
    return local_frame(spark, rows, _HISTORY_SCHEMA)


_MANIFESTS_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("format", StringType(), False),
        StructField("entry_count", LongType(), False),
        StructField("data_entries", LongType(), False),
        StructField("delete_entries", LongType(), False),
    ]
)


def manifests(spark: SparkSession, table: Table, snapshot_id: int | None = None) -> DataFrame:
    """One row per manifest of a snapshot (Iceberg's ``tbl.manifests``)."""
    table.refresh()
    snap = table.head_snapshot(snapshot_id)
    rows = []
    for m in snap.manifests if snap else []:
        entries = read_manifest(m)
        n_data = sum(1 for e in entries if e.content == "data")
        rows.append(
            (
                m,
                "parquet" if m.endswith(".parquet") else "json",
                len(entries),
                n_data,
                len(entries) - n_data,
            )
        )
    return local_frame(spark, rows, _MANIFESTS_SCHEMA)


_FILES_SCHEMA = StructType(
    [
        StructField("content", StringType(), False),
        StructField("path", StringType(), False),
        StructField("record_count", LongType(), False),
        StructField("file_size_bytes", LongType(), False),
        StructField("sequence_number", LongType(), False),
        StructField("bucket", LongType(), True),
        StructField("stats", StringType(), True),
    ]
)
_FILES_COLS = [f.name for f in _FILES_SCHEMA.fields]


def files(
    spark: SparkSession,
    table: Table,
    snapshot_id: int | None = None,
    content: str | None = None,
) -> DataFrame:
    """Per-file manifest entries (Iceberg's ``tbl.files`` /
    ``tbl.delete_files`` via ``content=\"deletes\"``). On a parquet-manifest
    snapshot this reads the manifests as a distributed dataset — the only
    shape that survives 10^9 entries; JSON-manifest tables (small by
    construction, format.py auto-upgrades at 4096 entries) materialize
    driver-side with identical schema."""
    from moonlink_spark.table.planning import plannable

    table.refresh()
    if plannable(table, snapshot_id):
        snap = table.head_snapshot(snapshot_id)
        df = spark.read.parquet(*snap.manifests)
        df = df.withColumn("stats", F.col("stats").cast("string")).select(*_FILES_COLS)
    else:
        rows = [
            (
                e.content,
                e.path,
                e.record_count,
                e.file_size_bytes,
                e.sequence_number,
                e.bucket,
                json.dumps(e.stats, sort_keys=True) if e.stats else None,
            )
            for e in table.entries(snapshot_id=snapshot_id)
        ]
        df = local_frame(spark, rows, _FILES_SCHEMA)
    if content is not None:
        df = df.filter(F.col("content") == content)
    return df


def delete_files(
    spark: SparkSession, table: Table, snapshot_id: int | None = None
) -> DataFrame:
    return files(spark, table, snapshot_id=snapshot_id, content="deletes")


_REFS_SCHEMA = StructType(
    [
        StructField("name", StringType(), False),
        StructField("type", StringType(), False),
        StructField("snapshot_id", LongType(), False),
        StructField("created_at_ms", LongType(), True),
        StructField("max_ref_age_ms", LongType(), True),
    ]
)


def refs(spark: SparkSession, table: Table) -> DataFrame:
    """Named refs incl. the implicit ``main`` (Iceberg's ``tbl.refs``)."""
    table.refresh()
    rows = []
    cur = table.md.current_snapshot()
    if cur is not None:
        rows.append(("main", "branch", cur.snapshot_id, None, None))
    for name, r in sorted(table.md.refs.items()):
        rows.append(
            (
                name,
                r.get("type"),
                int(r["snapshot_id"]),
                r.get("created_at_ms"),
                r.get("max_ref_age_ms"),
            )
        )
    return local_frame(spark, rows, _REFS_SCHEMA)


def stats(spark: SparkSession, table: Table) -> DataFrame:
    """The table's column statistics (ANALYZE output) as a metadata table —
    one row per analyzed column (operators/analyze.py)."""
    from moonlink_spark.operators.analyze import stats_dataframe

    return stats_dataframe(spark, table)
