"""Incremental changelog scan — consume a table's row-level changes by LSN.

Moonlink is a CDC *ingestion* engine: every mutation enters as an ordered
event (Append / Delete / Commit, reference:
src/moonlink/src/storage/wal.rs:77-100) and lands in an LSN-stamped snapshot
("read at LSN X sees all commits <= X",
src/moonlink/src/storage/mooncake_table.rs:407-412). This module is the
read-side inverse — CDC *out*: given two LSNs, reconstruct exactly the row
events the table applied between them, from snapshot metadata alone (the same
information moonlink's WAL carries, recovered here from manifests + deletion
vectors instead of a log). Iceberg exposes the identical capability as its
changelog/incremental read; the semantics here follow that model:

- an ``insert`` event for every row in a data file ADDED by a data-changing
  commit (MERGE upsert, append, bulk ingest);
- a ``delete`` event carrying the PRE-IMAGE of every row position newly
  marked in a deletion vector by that commit (a MERGE update is therefore a
  delete+insert pair at the same LSN — exactly how moonlink decomposes CDC
  updates, src/moonlink/src/pg_replicate/moonlink_sink.rs:286-317);
- replace-type commits (compaction, clustering, manifest rewrite) change
  PHYSICAL layout, never logical content — they emit nothing, which is also
  why a changelog consumer survives background maintenance.

Scale posture: per consumed commit the work is O(files touched by that
commit), never O(table) — added files are listed from the commit's own
manifest entries (sequence_number == commit sequence), and delete pre-images
read only the data files the new DVs reference (one driver-side distinct over
the packed DV rows, one row per referenced file). The image payload is read
once per emitted event and never shuffles; the position join broadcasts the
(tiny) DV side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from moonlink_spark.session import local_frame
from moonlink_spark.table.catalog import Table
from moonlink_spark.table.dv import read_delete_positions
from moonlink_spark.table.format import DATA, DELETES, EQ_DELETES, Snapshot, norm_path
from moonlink_spark.table.scan import FILE_COL, POS_COL, scan

CHANGE_TYPE_COL = "_change_type"
CHANGE_LSN_COL = "_change_lsn"

# highest commit LSN whose snapshot has been expired — changes at or below it
# are unrecoverable (snapshot expiry stamps this, operators/expire.py), so an
# incremental consumer resuming from below must re-bootstrap from a full scan.
# Moonlink has the same boundary: WAL files are truncated up to the
# iceberg-persisted LSN (src/moonlink/src/storage/wal.rs:205-220).
MIN_CHANGELOG_LSN_PROP = "moonlink.min-changelog-lsn"

# operations that rewrite layout without changing logical content — they are
# invisible to the changelog (Iceberg's changelog skips "replace" snapshots
# for the same reason). Prefix match so "cluster-zorder"/"cluster-hilbert"
# and future strategies are covered.
# ("rewrite-": manifest AND positional-delete rewrites are layout-only;
# "rollback": a rollback snapshot is content-identical to its target
# parent — no row events of its own; the UNDONE commits are excluded by the
# ancestry walk)
_REPLACE_OP_PREFIXES = ("compact", "cluster", "rewrite-", "rollback")
# schema-only commits: no row events
_SCHEMA_OP_PREFIXES = ("add-columns", "drop-columns")

# same broadcast ceiling rationale as table/scan.py: ~300B per (path,pos) row
_BROADCAST_DELETE_ROWS = 1_000_000


def _is_replace(op: str) -> bool:
    return op.startswith(_REPLACE_OP_PREFIXES) or op.startswith(_SCHEMA_OP_PREFIXES)


def _changed_snapshots(table: Table, from_lsn: int, to_lsn: int) -> list[Snapshot]:
    """Snapshots with from_lsn < commit-LSN <= to_lsn, commit order.

    Raises if the window reaches below the expiry boundary (expired commits
    cannot be replayed — the caller must re-bootstrap from a full scan, the
    standard incremental-read contract).
    """
    floor = int(table.md.properties.get(MIN_CHANGELOG_LSN_PROP, 0))
    if from_lsn < floor:
        raise KeyError(
            f"changelog from lsn={from_lsn} predates retained history "
            f"(commits up to lsn={floor} are expired); re-bootstrap from a scan"
        )
    # follow the CURRENT LINEAGE only: after a rollback the undone commits
    # remain retained (time-travel) but fork off the parent chain — replaying
    # them would resurrect undone rows (Iceberg's changelog reads ancestry
    # the same way)
    ancestors = table.ancestor_ids()
    out = []
    for s in sorted(table.md.snapshots, key=lambda s: s.sequence_number):
        if s.snapshot_id not in ancestors:
            continue
        lsn = s.summary.get("lsn")
        if lsn is not None and from_lsn < int(lsn) <= to_lsn:
            out.append(s)
    return out


def scan_changes(
    spark: SparkSession,
    table: Table,
    from_lsn: int,
    to_lsn: int,
    columns: list[str] | None = None,
    preimage_columns: list[str] | None = None,
) -> DataFrame:
    """Row-level changes committed after ``from_lsn`` up to ``to_lsn``.

    Returns the requested table columns plus ``_change_type``
    ('insert' | 'delete' — delete rows carry the pre-image) and
    ``_change_lsn`` (the commit LSN of the event). Consuming
    ``(last_lsn, current_lsn]`` repeatedly yields every event exactly once.

    ``preimage_columns`` narrows what delete events materialize (other
    columns come back NULL, schema unchanged): a consumer that only needs
    the identity key to apply deletes (replication, operators/sync.py) makes
    the pre-image scan column-prune away the payload — at image scale that
    is the difference between re-reading kilobytes and a few bytes per
    deleted row.
    """
    cols = columns or [f.name for f in table.schema.fields]
    pre_cols = preimage_columns if preimage_columns is not None else cols
    if not set(pre_cols) <= set(cols):
        raise ValueError(f"preimage_columns {pre_cols} not a subset of {cols}")
    parts: list[DataFrame] = []

    for s in _changed_snapshots(table, from_lsn, to_lsn):
        op = s.summary.get("operation", "")
        if _is_replace(op):
            continue
        lsn = int(s.summary["lsn"])
        added_data = [
            e
            for e in table.entries(s.snapshot_id, DATA)
            if e.sequence_number == s.sequence_number
        ]
        added_dels = [
            e
            for e in table.entries(s.snapshot_id, DELETES)
            if e.sequence_number == s.sequence_number
        ]

        if added_data:
            # rows in files added by this commit: no DV in this snapshot can
            # reference them (MERGE dedups the batch first), so skip the
            # snapshot's delete anti-join entirely
            ins = scan(
                spark,
                table,
                snapshot_id=s.snapshot_id,
                columns=cols,
                data_entries=added_data,
                delete_entries=[],
            )
            parts.append(
                ins.select(
                    *cols,
                    F.lit("insert").alias(CHANGE_TYPE_COL),
                    F.lit(lsn).cast("long").alias(CHANGE_LSN_COL),
                )
            )

        if added_dels:
            dels = read_delete_positions(spark, added_dels)
            # one driver-side distinct over the packed DV rows — O(files
            # touched by this commit), the changelog analog of the MERGE
            # planner's O(survivors) discipline
            ref_paths = {
                r["file_path"]
                for r in dels.select("file_path").distinct().collect()
            }
            # pre-image file set = files visible BEFORE this commit that the
            # new DVs reference. Data-changing commits only ADD files, so
            # "visible before" is exactly the lower sequence numbers of this
            # snapshot's own manifests — no parent snapshot object needed
            # (the parent may be expired while its manifests live on by
            # reference, catalog.py commit reuse).
            parent_refs = [
                e
                for e in table.entries(s.snapshot_id, DATA)
                if e.sequence_number < s.sequence_number
                and norm_path(e.path) in ref_paths
            ]
            if parent_refs:
                # old DVs need not be anti-applied: MERGE probes only LIVE
                # rows, so a position can enter a deletion vector exactly
                # once — the inner join with the NEW positions is the filter
                pre = scan(
                    spark,
                    table,
                    snapshot_id=s.snapshot_id,
                    columns=pre_cols,
                    with_pos=True,
                    data_entries=parent_refs,
                    delete_entries=[],
                )
                n_del = sum(e.record_count for e in added_dels)
                if n_del <= _BROADCAST_DELETE_ROWS:
                    dels = F.broadcast(dels)
                cond = (pre[FILE_COL] == dels["file_path"]) & (
                    pre[POS_COL] == dels["pos"]
                )
                schema = table.schema
                out = [
                    F.col(c)
                    if c in pre_cols
                    else F.lit(None).cast(schema[c].dataType).alias(c)
                    for c in cols
                ]
                parts.append(
                    pre.join(dels, cond, "inner").select(
                        *out,
                        F.lit("delete").alias(CHANGE_TYPE_COL),
                        F.lit(lsn).cast("long").alias(CHANGE_LSN_COL),
                    )
                )

        added_eqs = [
            e
            for e in table.entries(s.snapshot_id, EQ_DELETES)
            if e.sequence_number == s.sequence_number
        ]
        if added_eqs:
            # lazy-MERGE commit (equality deletes): the pre-images are the
            # rows LIVE before this commit whose identity keys the commit
            # deleted — a SEMI join of the pre-state against the commit's
            # key set (the deferred probe the lazy write skipped, running
            # here only for consumers that asked for the event stream)
            from moonlink_spark.schema import table_identity

            keys = table_identity(table)
            older = [
                e
                for e in table.entries(s.snapshot_id, DATA)
                if e.sequence_number < s.sequence_number
            ]
            if older:
                pre = scan(
                    spark,
                    table,
                    snapshot_id=s.snapshot_id,
                    columns=sorted(set(pre_cols) | set(keys)),
                    data_entries=older,
                    eq_delete_entries=[
                        e
                        for e in table.entries(s.snapshot_id, EQ_DELETES)
                        if e.sequence_number < s.sequence_number
                    ],
                )
                kdf = (
                    spark.read.parquet(*[e.path for e in added_eqs])
                    .select(*keys)
                    .distinct()
                )
                n_eq = sum(e.record_count for e in added_eqs)
                if n_eq <= _BROADCAST_DELETE_ROWS:
                    kdf = F.broadcast(kdf)
                schema = table.schema
                out = [
                    F.col(c)
                    if c in pre_cols
                    else F.lit(None).cast(schema[c].dataType).alias(c)
                    for c in cols
                ]
                parts.append(
                    pre.join(kdf, keys, "left_semi").select(
                        *out,
                        F.lit("delete").alias(CHANGE_TYPE_COL),
                        F.lit(lsn).cast("long").alias(CHANGE_LSN_COL),
                    )
                )

    if not parts:
        schema = table.schema
        empty = StructType(
            [f for f in schema.fields if f.name in cols]
            + [
                StructField(CHANGE_TYPE_COL, StringType()),
                StructField(CHANGE_LSN_COL, LongType()),
            ]
        )
        return local_frame(spark, [], empty)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df
