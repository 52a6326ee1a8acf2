"""ANALYZE TABLE — per-column statistics (NDV / nulls / sizes) for a
snapshot, persisted as a puffin statistics file.

Iceberg's ``compute_table_stats`` action writes per-column NDV sketches
into a puffin statistics file referenced from table metadata; engines use
them for join sizing and CBO. The moonlink reference keeps NDV-free
min/max stats only (parquet_stats_utils.rs folds bounds), so this is the
statistics surface a query engine on top of the table needs and the
reference delegates to Iceberg.

Spark-first shape: ONE aggregation job over the snapshot scan computes
every column's stats simultaneously — ``approx_count_distinct`` is
Tungsten's HyperLogLog++ (JVM-side, mergeable, relative error ~2.3% at the
default precision), null counts and byte sizes are plain aggregates, so
the pass is a single map-side-combined shuffle of O(columns x sketch)
bytes regardless of table size. Nothing per-row touches Python.

The result lands as one puffin blob per column (type
``moonlink-column-stats-v1``, JSON payload) under the table's metadata
directory, referenced by CAS-committed table properties
(``statistics.snapshot-id`` / ``statistics.path``) so concurrent writers
serialize and readers always see a (snapshot, stats) pair that existed.
Stale stats are the caller's signal: ``table_stats`` returns the snapshot
id the stats were computed at; ``auto_optimize``-style schedulers re-run
``analyze_table`` when it trails the head.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moonlink_spark.session import local_frame
from moonlink_spark.table.catalog import Table
from moonlink_spark.table.io import accessor_for
from moonlink_spark.table.puffin import read_all_blobs, write_puffin

#: puffin blob type for one column's stats (JSON payload)
COLUMN_STATS_BLOB = "moonlink-column-stats-v1"

STATS_PATH_PROP = "statistics.path"
STATS_SNAPSHOT_PROP = "statistics.snapshot-id"

#: types measured by byte length rather than value width
_SIZED = ("string", "binary")


@dataclass(frozen=True)
class AnalyzeResult:
    snapshot_id: int
    path: str
    row_count: int
    columns: dict[str, dict]


def _is_sized(dt) -> bool:
    return dt.simpleString() in _SIZED


def analyze_table(
    spark: SparkSession,
    table: Table,
    columns: list[str] | None = None,
    snapshot_id: int | None = None,
) -> AnalyzeResult:
    """Compute and persist column statistics for a snapshot.

    Per column: ``ndv`` (HLL++ approximate distinct count), ``null_count``
    (exact), and ``total_size_bytes`` (exact, string/binary only). Plus the
    exact snapshot ``row_count``. One distributed aggregation job; driver
    holds O(columns).
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    from moonlink_spark.table.scan import scan

    table.refresh()
    snap = table.head_snapshot(snapshot_id)
    if snap is None:
        raise ValueError("analyze_table: table has no snapshot")
    cols = columns or [f.name for f in table.schema.fields]
    by_name = {f.name: f for f in table.schema.fields}
    unknown = [c for c in cols if c not in by_name]
    if unknown:
        raise ValueError(f"analyze_table: unknown columns {unknown}")
    # nested containers get null counts only — element-level NDV is not a
    # column property (Iceberg likewise sketches top-level value streams)
    plain = [
        c for c in cols
        if not isinstance(by_name[c].dataType, (ArrayType, MapType, StructType))
    ]

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"))
        if c in plain:
            aggs.append(F.approx_count_distinct(c).alias(f"__ndv_{c}"))
            if _is_sized(by_name[c].dataType):
                aggs.append(F.sum(F.length(c)).alias(f"__size_{c}"))
    row = scan(spark, table, snapshot_id=snap.snapshot_id).agg(*aggs).collect()[0]

    rows_total = int(row["__rows"])
    col_stats: dict[str, dict] = {}
    for c in cols:
        st: dict = {"null_count": int(row[f"__nulls_{c}"] or 0)}
        if c in plain:
            st["ndv"] = int(row[f"__ndv_{c}"])
        if f"__size_{c}" in row.__fields__:
            st["total_size_bytes"] = int(row[f"__size_{c}"] or 0)
        col_stats[c] = st

    path = os.path.join(
        table.metadata_dir, f"stats-{snap.snapshot_id}-{uuid.uuid4().hex[:12]}.puffin"
    )
    blobs = [
        (
            COLUMN_STATS_BLOB,
            json.dumps(dict(st, column=c), separators=(",", ":")).encode(),
            {"column": c},
        )
        for c, st in col_stats.items()
    ]
    write_puffin(
        path,
        blobs,
        codec="zstd",
        file_properties={
            "snapshot-id": str(snap.snapshot_id),
            "row-count": str(rows_total),
        },
    )
    old = table.md.properties.get(STATS_PATH_PROP)
    table.set_properties(
        {STATS_PATH_PROP: path, STATS_SNAPSHOT_PROP: str(snap.snapshot_id)}
    )
    if old and old != path:
        # superseded stats file — safe to drop eagerly: readers resolve the
        # path through current properties, never from older metadata
        try:
            accessor_for(old).delete(old)
        except Exception:
            pass  # orphaned stats are cosmetic; GC-able
    return AnalyzeResult(snap.snapshot_id, path, rows_total, col_stats)


def table_stats(table: Table) -> tuple[int, int, dict[str, dict]] | None:
    """(stats snapshot id, row count, per-column stats) from the current
    statistics file, or None when the table was never analyzed. Ranged
    blob reads keep this O(referenced columns) at any table size."""
    table.refresh()
    path = table.md.properties.get(STATS_PATH_PROP)
    if not path:
        return None
    blobs = read_all_blobs(path)
    cols: dict[str, dict] = {}
    row_count = 0
    snap_id = int(table.md.properties.get(STATS_SNAPSHOT_PROP, "0"))
    for meta, payload in blobs:
        if meta.type != COLUMN_STATS_BLOB:
            continue
        d = json.loads(payload)
        cols[d.pop("column")] = d
    _, fprops = _file_props(path)
    row_count = int(fprops.get("row-count", "0"))
    return snap_id, row_count, cols


def _file_props(path: str) -> tuple[list, dict]:
    from moonlink_spark.table.puffin import parse_puffin

    data = accessor_for(path).read_bytes(path)
    return parse_puffin(data)


def stats_dataframe(spark: SparkSession, table: Table) -> DataFrame:
    """The statistics as a one-row-per-column DataFrame (inspection
    surface, like inspect.files/snapshots)."""
    got = table_stats(table)
    if got is None:
        raise ValueError("table has no statistics — run analyze_table first")
    snap_id, row_count, cols = got
    rows = [
        (
            c,
            snap_id,
            row_count,
            st.get("ndv"),
            st["null_count"],
            st.get("total_size_bytes"),
        )
        for c, st in sorted(cols.items())
    ]
    return local_frame(
        spark,
        rows,
        "column string, snapshot_id long, row_count long, ndv long, "
        "null_count long, total_size_bytes long",
    )
