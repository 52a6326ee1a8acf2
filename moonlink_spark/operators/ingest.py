"""Bulk file ingest — adopt existing Parquet files without rewriting.

Mirrors moonlink's LoadFiles / batch ingestion (reference:
src/moonlink/src/storage/mooncake_table/batch_ingestion.rs:21-120 — existing
Parquet files become data files as-is; the optional index build that scans
only the key column maps to our footer-stats collection, which gives MERGE
its min/max pruning bounds; event: src/moonlink/src/table_notify.rs:110-115).

The Iceberg analog is the ``add_files``/``snapshot`` procedure. Validation is
footer-only (schema check + stats), done in executors via the same
``collect_file_entries`` path as normal writes — adopting a million files is
a Spark job over the file list, never a driver loop.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from moonlink_spark.session import local_frame
from moonlink_spark.table.catalog import Table
from moonlink_spark.table.format import Snapshot
from moonlink_spark.table.stats import collect_file_entries


@dataclass
class IngestResult:
    snapshot: Snapshot
    files: int
    rows: int
    bytes: int


def _check_schema(sample_path: str, table_schema: StructType) -> None:
    """File columns must be a subset of the table's, with matching Spark types
    (missing columns read as NULL; extra columns would be silently dropped by
    the schema-scan, so they are an error, like moonlink's row-identity
    validation at ingest, batch_ingestion.rs:104-106)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    file_schema = pq.read_schema(sample_path)
    by_name = {f.name: f for f in table_schema.fields}
    for name in file_schema.names:
        if name not in by_name:
            raise ValueError(
                f"file {sample_path} has column {name!r} not in the table schema"
            )
        ftype = from_arrow_type(file_schema.field(name).type)
        if ftype != by_name[name].dataType:
            raise ValueError(
                f"column {name!r} type mismatch: file={ftype}, table={by_name[name].dataType}"
            )


def _distinct_schema_samples(spark: SparkSession, paths: list[str]) -> list[str]:
    """One representative path per DISTINCT file schema, so validation cost
    is O(distinct schemas) driver-side while the signature scan stays
    distributed for large file lists (same ≤512 heuristic as stats)."""
    import pandas as pd
    import pyarrow.parquet as pq

    def sig(p: str) -> str:
        s = pq.read_schema(p)
        return ";".join(f"{n}:{s.field(n).type}" for n in s.names)

    if len(paths) <= 512:
        pairs = [(p, sig(p)) for p in paths]
    else:
        def run(batches):
            for b in batches:
                yield pd.DataFrame(
                    {"path": b["path"], "sig": [sig(p) for p in b["path"]]}
                )

        pairs = [
            (r.path, r.sig)
            for r in local_frame(spark, {"path": paths}, "path string")
            .repartition(max(len(paths) // 256, 2))
            .mapInPandas(run, schema="path string, sig string")
            .collect()
        ]
    samples: dict[str, str] = {}
    for p, s in pairs:
        samples.setdefault(s, p)
    return list(samples.values())


def add_files(
    spark: SparkSession,
    table: Table,
    paths: list[str],
    lsn: int | None = None,
    validate: bool = True,
) -> IngestResult:
    """Adopt ``paths`` (Parquet) as data files of the next snapshot."""
    table.refresh()
    if not paths:
        raise ValueError("no files to ingest")
    already = {e.path for e in table.data_entries()}
    dup = [p for p in paths if p in already]
    if dup:
        raise ValueError(f"files already referenced by the table: {dup[:3]}")
    if validate:
        # EVERY file's schema is checked (one driver check per distinct
        # schema; signature collection is distributed) — a later file with a
        # wrong type or extra column fails here, not at scan time
        for sample in _distinct_schema_samples(spark, paths):
            _check_schema(sample, table.schema)
    # Footer field ids must AGREE with the table's name->id map to be
    # id-resolvable; a foreign file carrying its own ids is forced onto the
    # name-resolved scan branch (names/types were validated above), never
    # id-scanned against the wrong ids (which reads all-NULL silently).
    from moonlink_spark.table.fieldids import schema_field_id_map

    entries = collect_file_entries(
        spark, paths, expected_field_ids=schema_field_id_map(table.schema)
    )
    # pure append: retry-safe unconditionally (rebases over any winner)
    snap = table.commit_with_retry(
        "add-files",
        added=entries,
        lsn=lsn,
        summary_extra={"ingested-files": len(entries)},
    )
    return IngestResult(
        snapshot=snap,
        files=len(entries),
        rows=sum(e.record_count for e in entries),
        bytes=sum(e.file_size_bytes for e in entries),
    )
