"""Candidate-file planning: one pruning semantics, two executors.

The moonlink reference locates the files that can hold a key through its
GlobalIndex (src/moonlink/src/storage/index/persisted_bucket_hash_map.rs:
25-93). The engine's stand-in prunes data files by their key bucket and
their manifest min/max stats, and every reader and writer that needs
candidate files (MERGE probe, ``scan_range``, ``scan_values``, scoped
compaction, the DataSource) prunes through this module.

Semantics (``keep_entries``): a file survives when its bucket is unset or in
the bucket set, AND for every constrained column its ``[min, max]`` meets
ANY of that column's intervals, where either end of an interval may be
``None`` (open). Files lacking bounds — and bounds that do not compare with
the interval's values — are always kept: pruning is an optimization, never
a filter.

Executors, chosen by the snapshot's manifest form (not by a user switch):

- parquet manifests on Spark-readable storage (``plannable``) are a dataset,
  so pruning runs as a Spark job over them and only the SURVIVING entries
  are collected. Iceberg plans scans over its Avro manifests with the same
  metadata-as-data shape. The driver still holds O(table) entries wherever
  its caller also reads the snapshot's delete entries or commits (each parses
  every manifest); the O(survivors) bound holds only for this call.
- JSON manifests are small by construction (format.py upgrades to parquet
  past 4096 entries), so the driver evaluates ``keep_entries`` over the
  parsed entries and launches no Spark job.

Compaction SELECTION is not planned here: ``compact.select_candidates``
applies moonlink's trigger policy on the driver, to the pool this module
returns (scoped compaction) or to the snapshot's data entries, which the
compaction commit reads anyway.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from moonlink_spark.table.catalog import Table
from moonlink_spark.table.format import DATA, FileEntry


def _spark_readable(path: str) -> bool:
    return "://" not in path or path.startswith("file://")


def plannable(table: Table, snapshot_id: int | None = None) -> bool:
    """Every manifest of the snapshot is parquet and Spark-readable."""
    snap = table.head_snapshot(snapshot_id)
    if snap is None or not snap.manifests:
        return False
    return all(
        m.endswith(".parquet") and _spark_readable(m) for m in snap.manifests
    )


def _meets(st, intervals) -> bool:
    if not st or st.get("min") is None or st.get("max") is None:
        return True
    try:
        return any(
            (lo is None or st["max"] >= lo) and (hi is None or st["min"] <= hi)
            for lo, hi in intervals
        )
    except TypeError:  # bounds incomparable with the filter values
        return True


def keep_entries(
    entries: list[FileEntry],
    intervals: dict[str, list[tuple]],
    buckets: set[int] | None = None,
) -> list[FileEntry]:
    """The driver executor: the entries that survive bucket and min/max
    pruning (module docstring). ``intervals`` maps a column — dotted for a
    struct leaf — to a list of ``(lo, hi)`` ranges, either end ``None``."""
    return [
        e
        for e in entries
        if (buckets is None or e.bucket is None or e.bucket in buckets)
        and all(_meets(e.stats.get(c), ivs) for c, ivs in intervals.items())
    ]


def _leaf_type(schema, dotted: str) -> str | None:
    """Spark simpleString type of a (possibly struct-nested) column path."""
    from pyspark.sql.types import StructType

    cur = schema
    typ = None
    for seg in dotted.split("."):
        if not isinstance(cur, StructType):
            return None
        f = next((f for f in cur.fields if f.name == seg), None)
        if f is None:
            return None
        typ = f.dataType
        cur = typ
    return typ.simpleString() if typ is not None else None


def _row_to_entry(r) -> FileEntry:
    return FileEntry(
        content=r["content"],
        path=r["path"],
        record_count=r["record_count"],
        file_size_bytes=r["file_size_bytes"],
        sequence_number=r["sequence_number"],
        stats=json.loads(r["stats"] or "{}"),
        bucket=r["bucket"],
    )


def _meets_col(table: Table, col: str, intervals) -> Column:
    """``_meets`` as a Spark expression over the manifest's stats JSON."""
    # dotted keys are struct-leaf stats — ONE top-level JSON key containing
    # dots, addressed with bracket syntax; bounds cast to the column's table
    # type so overlap compares typed values (an uncastable bound is NULL,
    # and a NULL bound keeps the file)
    jp = f"$['{col}']" if "." in col else f"$.{col}"
    typ = _leaf_type(table.schema, col) or "string"
    mn = F.get_json_object("stats", f"{jp}.min").try_cast(typ)
    mx = F.get_json_object("stats", f"{jp}.max").try_cast(typ)
    hit = F.lit(False)
    for lo, hi in intervals:
        iv = F.lit(True)
        if lo is not None:
            iv = iv & (mx >= F.lit(lo))
        if hi is not None:
            iv = iv & (mn <= F.lit(hi))
        hit = hit | iv
    return mn.isNull() | mx.isNull() | hit


def _plan(
    spark: SparkSession,
    table: Table,
    intervals: dict[str, list[tuple]],
    buckets: set[int] | None,
    snapshot_id: int | None,
) -> tuple[list[FileEntry], int]:
    """(surviving data entries, total data-file count) of the snapshot, by
    the executor its manifest form selects."""
    if not plannable(table, snapshot_id):
        entries = table.data_entries(snapshot_id)
        return keep_entries(entries, intervals, buckets), len(entries)
    snap = table.head_snapshot(snapshot_id)
    df = spark.read.parquet(*snap.manifests).filter(F.col("content") == DATA)
    keep = F.lit(True)
    if buckets is not None:
        keep = F.col("bucket").isNull() | F.col("bucket").isin(
            [int(b) for b in buckets]
        )
    for col, ivs in intervals.items():
        keep = keep & _meets_col(table, col, ivs)
    # survivors stream to the driver per-partition (no single-task gather),
    # so driver memory is O(survivors), never O(table); the total is a
    # second metadata-scale job (manifest bytes ~ 10^-5 of table bytes)
    df = df.cache()
    try:
        total = df.count()
        hits = df.filter(keep).collect()
    finally:
        df.unpersist()
    return [_row_to_entry(r) for r in hits], total


def plan_data_candidates(
    spark: SparkSession,
    table: Table,
    key,
    lo,
    hi,
    batch_buckets: set[int] | None = None,
    snapshot_id: int | None = None,
) -> tuple[list[FileEntry], int]:
    """Candidate files for a conjunction of per-column ranges: the data
    entries whose bucket is unset or in ``batch_buckets`` and whose bounds
    meet ``[lo, hi]`` on EVERY key column. Returns (survivors, total
    data-file count).

    ``key`` may be a composite column list (IdentityProp::Keys), with ``lo``
    / ``hi`` aligned lists of per-column bounds; a ``None`` bound leaves
    that end of the range open."""
    from moonlink_spark.schema import normalize_keys

    los = lo if isinstance(lo, (list, tuple)) else [lo]
    his = hi if isinstance(hi, (list, tuple)) else [hi]
    intervals = {
        k: [(klo, khi)] for k, klo, khi in zip(normalize_keys(key), los, his)
    }
    return _plan(spark, table, intervals, batch_buckets, snapshot_id)


def plan_data_candidates_union(
    spark: SparkSession,
    table: Table,
    key: str,
    ranges: list[tuple],
    snapshot_id: int | None = None,
) -> tuple[list[FileEntry], int]:
    """Candidate files for a UNION of value ranges on one column, planned in
    one pass — the IVF probe's planner (one planning pass for all probed
    cells, not one per cell). Returns (survivors, total data-file count)."""
    return _plan(spark, table, {key: list(ranges)}, None, snapshot_id)

