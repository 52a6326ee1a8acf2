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
  so pruning runs as a Spark job over them and the driver materializes only
  the SURVIVING entries — O(survivors), never O(table), which is the only
  shape that holds at 10^8-10^9 files. Iceberg plans scans over its Avro
  manifests with the same metadata-as-data shape.
- JSON manifests are small by construction (format.py upgrades to parquet
  past 4096 entries), so the driver evaluates ``keep_entries`` over the
  parsed entries and launches no Spark job.
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


def plan_compaction_candidates(
    spark: SparkSession,
    table: Table,
    del_counts_df,
    mode: str,
    target_bytes: int,
    min_files: int,
    max_files: int,
    delete_ratio: float,
    bucketed: bool,
) -> list[FileEntry] | None:
    """Compaction candidate selection as a Spark job over the snapshot's
    parquet manifests — the distributed twin of
    ``operators.compact.select_candidates`` (same trigger policy, reference
    snapshot_maintenance.rs:42-196). Returns None when not plannable.

    ``del_counts_df`` — per-file deleted-row counts as a DataFrame
    (file_path, n), or None when the snapshot has no deletes — joins the
    manifests executor-side, so NOTHING about the delete distribution ever
    lands whole on the driver (a broad delete wave can touch a large
    fraction of 10^9 files). The driver receives O(candidates): best-effort
    truncates to ``max_files`` via a distributed sort+limit; full mode
    returns every file needing work, which is exactly the set the driver
    must orchestrate rewrites for anyway.
    """
    if not plannable(table):
        return None
    snap = table.head_snapshot()
    df = spark.read.parquet(*snap.manifests).filter(F.col("content") == DATA)
    if del_counts_df is not None:
        dc = del_counts_df.select(
            F.col("file_path").alias("dpath"), F.col("n").alias("dn")
        )
        from moonlink_spark.table.scan import _norm_path

        df = df.join(dc, _norm_path(F.col("path")) == F.col("dpath"), "left").drop("dpath")
    else:
        df = df.withColumn("dn", F.lit(None).cast("long"))
    dn = F.coalesce(F.col("dn"), F.lit(0))
    small = F.col("file_size_bytes") < F.lit(int(target_bytes))
    unindexed = F.col("bucket").isNull() if bucketed else F.lit(False)

    if mode == "full":
        rows = df.filter(small | (dn > 0) | unindexed).drop("dn").collect()
        cand = [_row_to_entry(r) for r in rows]
        # lone-file rule: a single bucketed candidate is a pointless concat;
        # a lone UNBUCKETED file still gets rewritten (bucketizing it removes
        # a permanent MERGE probe candidate)
        if len(cand) == 1 and not (bucketed and cand[0].bucket is None):
            return []
        return cand

    ratio_hit = (F.col("record_count") > 0) & (
        dn / F.col("record_count") >= F.lit(delete_ratio)
    )
    need = 2 if mode == "force_regular" else min_files
    # limit(max(need, max_files)): enough rows to distinguish "fewer than
    # ``need`` candidates exist" (-> skip) from "plenty exist" (-> take the
    # ``max_files`` smallest); ties broken by path so the order is a total
    # one, matching the driver path exactly
    rows = (
        df.filter(small | unindexed | ratio_hit)
        .orderBy("file_size_bytes", "path")
        .limit(max(need, max_files))
        .drop("dn")
        .collect()
    )
    cand = [_row_to_entry(r) for r in rows]
    if len(cand) < need:
        return []
    return cand[:max_files]
