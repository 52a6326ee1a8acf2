"""Manifest rewrite: regroup per-commit manifests, sweep dangling deletes.

Mirrors moonlink's manifest rewrite + index merge
(reference: src/moonlink/src/storage/iceberg/puffin_writer_proxy.rs:252-352 —
rewrite manifest list + per-type manifests dropping removed files;
src/moonlink/src/storage/mooncake_table/snapshot_maintenance.rs:224-306 —
merge >=16 small index files). Every MERGE commit adds one small manifest;
after many batches the metadata itself fragments. This job:

1. regroups all live entries into one data manifest + one deletes manifest
   (entries keep their original sequence numbers → scans byte-identical);
2. rewrites the positional-delete files themselves, dropping rows that
   reference no live data file (dangling after compaction) and coalescing
   many small delete files into few — the same repack as
   ``compact.rewrite_position_deletes``, a small Spark job over
   metadata-scale rows. A delete file left with no row is dropped.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from moonlink_spark.operators.compact import _repack_live_positions
from moonlink_spark.table.catalog import Table
from moonlink_spark.table.format import Snapshot


@dataclass
class RewriteResult:
    snapshot: Snapshot | None
    manifests_before: int
    manifests_after: int
    delete_files_before: int
    delete_files_after: int
    skipped: bool = False


def rewrite_manifests(
    spark: SparkSession,
    table: Table,
    min_manifests: int = 2,
) -> RewriteResult:
    table.refresh()
    snap = table.head_snapshot()
    if snap is None:
        return RewriteResult(None, 0, 0, 0, 0, skipped=True)
    n_manifests = len(snap.manifests)
    data_entries = table.data_entries()
    delete_entries = table.delete_entries()

    new_delete_entries = delete_entries
    if delete_entries:
        new_delete_entries = _repack_live_positions(
            spark, table, delete_entries, data_entries,
            num_files=max(1, len(delete_entries) // 16),
        )
        # swept delete rows must keep applying to the same (older) data files
        max_seq = max(e.sequence_number for e in delete_entries)
        for e in new_delete_entries:
            e.sequence_number = max_seq
    elif n_manifests < min_manifests:
        return RewriteResult(None, n_manifests, n_manifests, len(delete_entries),
                             len(delete_entries), skipped=True)

    groups = [data_entries, new_delete_entries]
    new_snap = table.commit(
        "rewrite-manifests",
        manifests_override=[g for g in groups if g],
        summary_extra={
            "manifests-before": n_manifests,
            "delete-files-swept": len(delete_entries) - len(new_delete_entries),
        },
    )
    return RewriteResult(
        new_snap,
        n_manifests,
        len(new_snap.manifests),
        len(delete_entries),
        len(new_delete_entries),
    )
