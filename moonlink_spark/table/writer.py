"""Size-tuned Parquet data-file writing.

Mirrors moonlink's flush: drain buffered rows into size-tuned snappy Parquet
(128 MiB flush target / 512 MiB compaction target, reference:
src/moonlink/src/storage/mooncake_table_config.rs:21-24,
src/moonlink/src/storage/compaction/compaction_config.rs:52,
src/moonlink/src/storage/parquet_utils.rs:6). Spark-side sizing uses
``maxRecordsPerFile`` (no extra shuffle) plus an optional explicit
repartition/repartitionByRange when the caller knows total bytes (compaction
and clustering do, from manifest stats).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from moonlink_spark.table.format import DATA, DELETES, EQ_DELETES, FileEntry
from moonlink_spark.table.io import accessor_for
from moonlink_spark.table.stats import collect_file_entries


def list_parquet(out_dir: str) -> list[str]:
    """All parquet objects under a commit directory (recursive — covers
    bucketed __bucket=N/ subdirectories), via the storage accessor.

    Spark job-internal artifacts are excluded: files under ``_temporary``
    (a crashed job's uncommitted task attempts) and hidden ``_``/``.``
    entries (_SUCCESS markers, .crc sidecars) must never become manifest
    entries."""
    out = []
    for p in accessor_for(out_dir).list(out_dir, suffix=".parquet"):
        rel = p[len(out_dir):].lstrip("/")
        parts = rel.split("/")
        if any(
            seg.startswith(("_", "."))
            and not seg.startswith(("__bucket=", "__cbin="))
            for seg in parts
        ):
            continue
        out.append(p)
    return out

FLUSH_TARGET_BYTES = 128 * 1024 * 1024
COMPACT_TARGET_BYTES = 512 * 1024 * 1024

DELETE_SCHEMA = "file_path string, pos long"

# table properties: hash-bucketed data layout (bucket count + key column)
BUCKETS_PROP = "write.buckets"
BUCKET_KEY_PROP = "write.bucket-key"
_BUCKET_COL = "__bucket"


def bucket_id(key_col: Column | str, buckets: int) -> Column:
    """Deterministic key bucket — the same function on the write path and
    the MERGE probe path (moonlink GlobalIndex semantics,
    reference: src/moonlink/src/storage/index/persisted_bucket_hash_map.rs:276-307)."""
    return F.pmod(F.xxhash64(key_col), F.lit(buckets)).cast("int")


def bucket_expr(key: str | list[str], buckets: int) -> Column:
    """``bucket_id`` over a (possibly composite) key column list — one
    xxhash64 over all identity columns, so build and probe agree for
    IdentityProp::Keys tables (moonlink_row.rs:271-280)."""
    from moonlink_spark.schema import normalize_keys

    cols = [F.col(c) for c in normalize_keys(key)]
    return F.pmod(F.xxhash64(*cols), F.lit(buckets)).cast("int")


def table_buckets(table) -> int | None:
    v = table.md.properties.get(BUCKETS_PROP)
    return int(v) if v else None


def table_bucket_key(table) -> list[str]:
    """The bucket-layout key columns (BUCKET_KEY_PROP, comma-joined),
    defaulting to the table's declared identity keys."""
    from moonlink_spark.schema import table_identity

    v = table.md.properties.get(BUCKET_KEY_PROP)
    if not v:
        return table_identity(table)
    return [c.strip() for c in v.split(",") if c.strip()]


def write_bucketed_data_files(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    key: str | list[str],
    buckets: int,
    max_records_per_file: int | None = None,
    mode: str = "append",
    field_id_schema=None,
    build_blooms: bool = True,
) -> list[FileEntry]:
    """Write ``df`` hash-bucketed by ``key``: one directory per bucket, each
    file bucket-pure, and the bucket id recorded in its manifest entry so
    MERGE probes touch only the buckets a CDC batch hashes into.

    ``build_blooms=False`` defers the per-file key blooms to the caller —
    compaction batches ONE bloom job per commit across all its bins instead
    of paying a Spark job per write call.

    The repartition groups rows by bucket id so a bucket's rows are written
    by one task (bucket count = write parallelism, the knob a 1000-executor
    cluster raises); ``partitionBy`` keeps files bucket-pure even when AQE
    coalesces partitions.
    """
    expected_ids = None
    if field_id_schema is not None:
        from moonlink_spark.table.fieldids import schema_field_id_map, stamp_field_ids

        df = stamp_field_ids(df, field_id_schema)
        expected_ids = schema_field_id_map(field_id_schema)
    w = df.withColumn(_BUCKET_COL, bucket_expr(key, buckets)).repartition(
        buckets, F.col(_BUCKET_COL)
    )
    writer = w.write.mode(mode).format("parquet").partitionBy(_BUCKET_COL)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.save(out_dir)
    paths = [p for p in list_parquet(out_dir) if f"{_BUCKET_COL}=" in p]
    entries = collect_file_entries(
        spark, paths, content=DATA, expected_field_ids=expected_ids
    )
    for e in entries:
        e.bucket = int(os.path.basename(os.path.dirname(e.path)).split("=", 1)[1])
    if not build_blooms:
        return entries
    # bucketize IS the index build (moonlink's flush/index split): the same
    # pass also records a per-file key bloom (sidecar-referenced) so MERGE
    # prunes per KEY, not just per bucket
    # (persisted_bucket_hash_map.rs:276-307 probe semantics)
    from moonlink_spark.table.bloom import attach_key_blooms

    return attach_key_blooms(spark, entries, key, sidecar_dir=out_dir)


def write_data_files(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    num_files: int | None = None,
    range_cols: list | None = None,
    sort_cols: list | None = None,
    max_records_per_file: int | None = None,
    field_id_schema=None,
) -> list[FileEntry]:
    """Write ``df`` as Parquet under ``out_dir``; return manifest entries.

    - ``range_cols`` + ``num_files``: repartitionByRange → clustered files
      with tight per-column min/max (the Z-order/compaction path).
    - ``max_records_per_file``: split oversize partitions without a shuffle
      (the MERGE/flush path, where batch size is known approximately).
    - ``field_id_schema``: a table schema carrying parquet field ids —
      stamped onto the outgoing columns so footers persist the ids
      (identity-based evolution, fieldids.py). Files written without it
      still scan correctly via the name-resolved branch.
    """
    expected_ids = None
    if field_id_schema is not None:
        from moonlink_spark.table.fieldids import schema_field_id_map, stamp_field_ids

        df = stamp_field_ids(df, field_id_schema)
        expected_ids = schema_field_id_map(field_id_schema)
    w = df
    if num_files is not None and range_cols:
        w = w.repartitionByRange(num_files, *range_cols)
    elif num_files is not None:
        w = w.repartition(num_files)
    if sort_cols:
        w = w.sortWithinPartitions(*sort_cols)
    writer = w.write.mode("append").format("parquet")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.save(out_dir)
    return collect_file_entries(
        spark, list_parquet(out_dir), content=DATA, expected_field_ids=expected_ids
    )


def write_delete_files(
    spark: SparkSession,
    deletes_df: DataFrame,
    out_dir: str,
    num_files: int = 1,
) -> list[FileEntry]:
    """Write positional deletes as COMPRESSED deletion vectors: one
    (file_path, card, bitmap) row per referenced data file — the persisted
    form of moonlink's RoaringTreemap DV blobs (reference:
    src/moonlink/src/storage/iceberg/deletion_vector.rs:16-98). ~100x
    smaller than row-per-position at high delete ratios.

    The entry's ``record_count`` is the DELETED-POSITION cardinality (the
    reference's cardinality blob property), so scan broadcast sizing and
    merge metrics keep their v1 semantics. Cardinalities come from a
    driver-side pyarrow read of just the ``card`` column — delete files are
    metadata-scale (one row per referenced data file), so this replaces what
    used to be a whole extra Spark job on the MERGE hot path."""
    from moonlink_spark.table.dv import DV2C, DV_FORMAT_STAT, pack_positions

    packed = pack_positions(deletes_df, num_files or None)
    packed.sortWithinPartitions("file_path").write.mode("append").parquet(out_dir)
    entries = collect_file_entries(spark, list_parquet(out_dir), content=DELETES)
    from moonlink_spark.table.stats import _open_footer

    for e in entries:
        pf, _ = _open_footer(e.path)
        col = pf.read(columns=["card"]).column("card")
        e.record_count = int(sum(col.to_pylist())) if len(col) else 0
        e.stats[DV_FORMAT_STAT] = DV2C
    return entries


# the identity-key column list an eq-delete file was written over, recorded
# in its manifest entry so a later identity re-declaration cannot silently
# mis-apply old delete files (scan fails loudly on mismatch)
EQ_KEYS_STAT = "__eq_keys"


def write_eq_delete_files(
    spark: SparkSession,
    keys_df: DataFrame,
    out_dir: str,
    keys: list[str],
    num_files: int = 1,
) -> list[FileEntry]:
    """Write EQUALITY delete files (Iceberg v2 eq-deletes): one row per
    deleted identity-key tuple. Applied at scan to data files with a
    STRICTLY LOWER sequence number (format.py EQ_DELETES) — the lazy half
    of moonlink's delete-by-key buffering (mooncake_table.rs:1160-1184):
    the write is O(batch keys) with NO probe read; the key lookup happens
    at scan / compaction instead."""
    df = keys_df.select(*keys)
    if num_files:
        df = df.repartition(num_files)
    df.write.mode("append").parquet(out_dir)
    entries = collect_file_entries(spark, list_parquet(out_dir), content=EQ_DELETES)
    for e in entries:
        e.stats[EQ_KEYS_STAT] = ",".join(keys)
    return [e for e in entries if e.record_count > 0]
