"""Z-order / Hilbert clustering rewrite.

North-rule operator with no direct moonlink counterpart (moonlink compaction
preserves input order, reference:
src/moonlink/src/storage/compaction/compactor.rs:296-315): rewrite data files
ordered by a space-filling-curve code over (phash, w, h) so per-column
min/max manifest stats become tight on ALL clustered columns and scans with
predicates on any of them prune files.

Plan shape: scan (deletes applied) → pandas-UDF code column (Arrow-batched
numpy bit-interleave) → repartitionByRange(bins, code) →
sortWithinPartitions(code) → write ~512 MiB files → replace-files commit.
Column bounds for normalization come from manifest stats (a driver-side fold
over file entries — no data scan).

The range partitioner samples the code column; at 10^12 rows the sample is
per-partition reservoir sampling — no driver bottleneck. The code column is
dropped before write (projection preserves the shuffle + sort order).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from moonlink_spark.checkpoint import JobCheckpoint
from moonlink_spark.functions.codes import sfc_code, zorder_expr
from moonlink_spark.operators.compact import _delete_counts, _live_bytes
from moonlink_spark.table.catalog import Table
from moonlink_spark.table.format import EQ_DELETES, FileEntry, Snapshot
from moonlink_spark.table.scan import scan
from moonlink_spark.table.writer import COMPACT_TARGET_BYTES, write_data_files

CODE_COL = "__sfc"


@dataclass
class ClusterResult:
    snapshot: Snapshot | None
    in_files: int
    out_files: int
    strategy: str
    skipped: bool = False
    metrics: dict | None = None


def column_bounds(entries: list[FileEntry], col: str) -> tuple[int, int]:
    lo, hi = None, None
    for e in entries:
        st = e.stats.get(col)
        if st and st.get("min") is not None:
            lo = st["min"] if lo is None else min(lo, st["min"])
            hi = st["max"] if hi is None else max(hi, st["max"])
    if lo is None:
        return (0, 1)
    return (int(lo), int(hi))


def make_code_udf(cols: list[str], bounds: list[tuple[int, int]], strategy: str):
    @pandas_udf("long")
    def code_udf(*series: pd.Series) -> pd.Series:
        arrays = [s.to_numpy() for s in series]
        return pd.Series(sfc_code(arrays, bounds, strategy))

    return code_udf


def cluster(
    spark: SparkSession,
    table: Table,
    cols: tuple[str, ...] = ("phash", "w", "h"),
    strategy: str = "zorder",  # or "hilbert"
    target_bytes: int = COMPACT_TARGET_BYTES,
    checkpoint_root: str | None = None,
) -> ClusterResult:
    table.refresh()
    entries = table.data_entries()
    if not entries:
        return ClusterResult(None, 0, 0, strategy, skipped=True)

    del_counts = _delete_counts(spark, table)
    live_bytes = sum(_live_bytes(e, del_counts) for e in entries)
    bins = max(1, math.ceil(live_bytes / target_bytes))
    bounds = [column_bounds(entries, c) for c in cols]
    sel_paths = {e.path for e in entries}
    # the rewrite scans with every delete applied and replaces EVERY data
    # file, so every delete file of this snapshot is dangling afterwards
    # (rebucket_table's rule)
    removable = {e.path for e in table.delete_entries()} | {
        e.path for e in table.entries(content=EQ_DELETES)
    }

    ckpt = (
        JobCheckpoint(checkpoint_root, f"cluster-{strategy}-snap{table.md.current_snapshot_id}")
        if checkpoint_root
        else None
    )

    def rewrite() -> list[FileEntry]:
        live = scan(spark, table, data_entries=entries)
        if strategy == "zorder":
            # Z-order reduces to a flat bitwise expression — keep it inside
            # whole-stage codegen, zero Python on the rewrite path
            code_col = zorder_expr([F.col(c) for c in cols], bounds)
        else:
            code_col = make_code_udf(list(cols), bounds, strategy)(
                *[F.col(c) for c in cols]
            )
        coded = live.withColumn(CODE_COL, code_col)
        arranged = (
            coded.repartitionByRange(bins, CODE_COL)
            .sortWithinPartitions(CODE_COL)
            .drop(CODE_COL)
        )
        return write_data_files(
            spark, arranged, table.new_data_dir(), field_id_schema=table.schema
        )

    if ckpt:
        new_entries = ckpt.run(
            "rewrite", rewrite, sources=sorted(sel_paths)
        ).entries
    else:
        new_entries = rewrite()

    # clustering orders by the SFC code, not the key hash, so outputs carry
    # no bucket id — but the per-file KEY BLOOMS are order-independent:
    # attaching them here (one column-pruned job per commit, same discipline
    # as compaction's batched build) keeps narrow MERGE batches pruning per
    # key on a freshly clustered table instead of probing every file until
    # the next compaction re-bucketizes (moonlink likewise rebuilds its file
    # index on every rewrite, compactor.rs:331-365)
    from moonlink_spark.table.writer import table_bucket_key, table_buckets

    if table_buckets(table):
        from moonlink_spark.table.bloom import attach_key_blooms

        attach_key_blooms(spark, new_entries, table_bucket_key(table))

    metrics = {
        "strategy": strategy,
        "cols": list(cols),
        "in_files": len(entries),
        "out_files": len(new_entries),
        "bins": bins,
        "removed_delete_files": len(removable),
    }
    snap = table.commit_with_retry(
        f"cluster-{strategy}",
        added=new_entries,
        removed_paths=sel_paths | removable,
        conflict_on_new_deletes=True,
        summary_extra={"cluster-metrics": metrics},
    )
    return ClusterResult(snap, len(entries), len(new_entries), strategy, metrics=metrics)


def clustering_overlap(entries: list[FileEntry], col: str) -> float:
    """Average number of files whose [min,max] on ``col`` contain a random
    point — 1.0 = perfectly disjoint bounds. Used to verify tightness."""
    ivs = [
        (e.stats[col]["min"], e.stats[col]["max"])
        for e in entries
        if e.stats.get(col) and e.stats[col].get("min") is not None
    ]
    if len(ivs) < 2:
        return 1.0
    # sweep over intervals sorted by lo, keeping a min-heap of active his:
    # each new interval overlaps exactly the still-active set — O(n log n),
    # counting each unordered pair once (x2 below for the ordered count the
    # previous O(n^2) definition reported, so the metric is unchanged)
    import heapq

    pairs = 0
    active: list = []
    for lo, hi in sorted(ivs):
        while active and active[0] < lo:
            heapq.heappop(active)
        pairs += len(active)
        heapq.heappush(active, hi)
    return 1.0 + 2 * pairs / len(ivs)
