"""Bin-packing data compaction — fold deletes in, coalesce small files.

Mirrors moonlink's compaction (selection:
src/moonlink/src/storage/mooncake_table/snapshot_maintenance.rs:42-196;
execution: src/moonlink/src/storage/compaction/compactor.rs:75-432;
thresholds: src/moonlink/src/storage/compaction/compaction_config.rs:47-54 —
files < 512 MiB final size or >= 50% rows deleted; min 16 / max 32 files per
op in best-effort mode, min 2 forced, everything in full mode).

Execution is moonlink-shaped on purpose: the compactor stream-reads the
selected files IN ORDER, filters deleted rows, and concatenates into
target-size outputs (compactor.rs:296-315 — input order preserved, no
re-sort). The Spark-first translation:

- bins are planned DRIVER-SIDE from manifest stats (file size x live
  fraction) — whole files go to bins, ordered by their image_id lower bound
  so existing key-clustering survives;
- each bin is one `scan(bin files) -> coalesce(1) -> write` job: a single
  streaming-concat task, NO shuffle, NO sort, NO range-sampling pass (an
  earlier repartitionByRange design paid a full extra read for partitioner
  sampling and spilled the 15 KiB binary rows through the sorter);
- bins run as CONCURRENT Spark jobs from a driver thread pool (Spark's
  scheduler interleaves them), so parallelism = number of bins even though
  each output file is written by one task;
- each bin is one checkpoint step with (source files -> output files)
  lineage — the resumable per-partition unit the north rule requires. A
  re-run after a crash skips completed bins.

Key-order re-clustering is deliberately NOT compaction's job — that is the
Z-order/Hilbert `cluster` operator, which pays its shuffle+sort explicitly.

Delete-file hygiene (moonlink's deletion-log remap, O11,
snapshot_maintenance.rs:369-424): delete files whose rows ALL reference
compacted-away data files are removed in the same commit; mixed-reference
delete files are kept — their dangling rows anti-join against nothing and are
swept later by rewrite_manifests.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from moonlink_spark.checkpoint import JobCheckpoint
from moonlink_spark.session import local_frame
from moonlink_spark.table.catalog import Table
from moonlink_spark.table.format import EQ_DELETES, FileEntry, Snapshot, norm_path
from moonlink_spark.table.io import accessor_for
from moonlink_spark.table.scan import _norm_path, scan
from moonlink_spark.table.stats import collect_file_entries
from moonlink_spark.table.writer import (
    COMPACT_TARGET_BYTES,
    list_parquet,
    table_bucket_key,
    table_buckets,
    write_delete_files,
)

BEST_EFFORT = "best_effort"

# removable_delete_files driver fast path: cap on delete-file count and, for
# v1 (row-per-position) files, on rows pulled through a pyarrow column read
_DRIVER_DELETE_SCAN_FILES = 128
_DRIVER_DELETE_SCAN_ROWS = 2_000_000
FORCE_REGULAR = "force_regular"
FULL = "full"

_MAX_CONCURRENT_BINS = 16

# Above this many bins, per-bin driver jobs stop scaling (at the 100 TB
# design point a full compaction is ~200k bins — 200k Spark jobs is a driver
# bottleneck): bins are rewritten by ONE job instead — a union of
# single-partition (coalesce(1)) per-bin branches written with
# partitionBy(bin id). Still no shuffle, still one streaming-concat task per
# bin, input order preserved; per-bin checkpoint lineage is recorded
# post-hoc from the manifest split.
_BATCH_BINS_THRESHOLD = 64
_BIN_COL = "__cbin"


@dataclass
class CompactResult:
    snapshot: Snapshot | None
    in_files: int
    out_files: int
    in_bytes: int
    out_bytes: int
    removed_delete_files: int
    skipped: bool = False
    metrics: dict | None = None


def _delete_counts(spark: SparkSession, table: Table) -> dict[str, int]:
    """Per-data-file deleted-row counts, keyed by the normalized path
    (format.norm_path: look manifest entries up by ``norm_path(e.path)``).
    DV bitmaps expand executor-side and countDistinct folds overlapping
    positions across delete files; the driver receives one row per data
    file that has deletes."""
    from moonlink_spark.table.dv import read_delete_positions

    df = read_delete_positions(spark, table.delete_entries())
    if df is None:
        return {}
    agg = df.groupBy("file_path").agg(F.countDistinct("pos").alias("n"))
    return {r["file_path"]: r["n"] for r in agg.collect()}


def _repack_live_positions(
    spark: SparkSession,
    table: Table,
    dels: list[FileEntry],
    data: list[FileEntry],
    num_files: int,
) -> list[FileEntry]:
    """Re-pack the positions of ``dels`` into ``num_files`` new DV files,
    keeping only positions whose data file is in ``data``, the snapshot's
    live data entries (a broadcast semi join on the normalized path).
    Overlapping positions fold into one bitmap bit; an output with no
    position left is not written (``write_delete_files``). The caller sets
    the outputs' sequence rule and commits them."""
    from moonlink_spark.table.dv import read_delete_positions

    pos = read_delete_positions(spark, dels)
    live = local_frame(spark, {"lp": [norm_path(e.path) for e in data]}, "lp string")
    kept = pos.join(F.broadcast(live), pos["file_path"] == live["lp"], "left_semi")
    return write_delete_files(
        spark, kept, table.new_delete_dir(), num_files=num_files
    )


@dataclass
class RewriteDeletesResult:
    snapshot: Snapshot | None
    in_files: int
    out_files: int
    dropped_dangling_positions: int
    skipped: bool = False


def rewrite_position_deletes(
    spark: SparkSession,
    table: Table,
    min_files: int = 2,
    num_files: int = 1,
) -> RewriteDeletesResult:
    """Consolidate accumulated positional-delete files into ``num_files``
    re-packed DV files WITHOUT touching row data — Iceberg's
    rewrite_position_delete_files action, the between-compactions hygiene
    for merge-on-read (each MERGE adds one delete file; a thousand commits
    otherwise mean a thousand DV objects on every scan's apply path).

    Safe under the Iceberg-v2 sequence rule: data-file paths are immutable
    and never reused, so re-packed (path, pos) rows commit at a NEW
    sequence number and still apply to exactly the same rows. Overlapping
    positions across input files fold into one bitmap bit; positions
    referencing data files no longer live in the snapshot (left by
    compaction's mixed-reference keeps, moonlink's deletion-log remap
    residue, snapshot_maintenance.rs:369-424) are dropped via a broadcast
    semi join against the live path set — metadata-scale work end to end.
    """
    table.refresh()
    dels = table.delete_entries()
    if len(dels) < min_files:
        return RewriteDeletesResult(None, len(dels), len(dels), 0, skipped=True)
    entries = _repack_live_positions(
        spark, table, dels, table.data_entries(), num_files
    )
    n_in = sum(e.record_count for e in dels)
    n_out = sum(e.record_count for e in entries)
    snap = table.commit_with_retry(
        "rewrite-deletes",
        added=entries,
        removed_paths={e.path for e in dels},
        summary_extra={
            "rewrite-deletes-in": len(dels),
            "rewrite-deletes-out": len(entries),
        },
    )
    return RewriteDeletesResult(snap, len(dels), len(entries), max(0, n_in - n_out))


def rewrite_equality_deletes(
    spark: SparkSession,
    table: Table,
    min_files: int = 1,
    num_files: int = 1,
) -> RewriteDeletesResult:
    """Resolve accumulated EQUALITY deletes into positional DVs without
    rewriting any row data — the deferred half of moonlink's delete-by-key
    resolution (keys buffered at ingest, positions resolved at snapshot
    time, mooncake_table.rs:1160-1184 → snapshot.rs:774-1003). Lazy MERGE
    keeps the ingest path O(batch); this maintenance action pays the key
    probe ONCE (a column-pruned identity scan, the same job an eager MERGE
    would have run per batch) and converts every matched row to a DV bit,
    dropping the eq files in the same commit.

    Why a separate action from compaction: folding eq-deletes by data
    rewrite is O(table bytes) — every file older than the newest eq file
    is affected. This is O(key columns + matches): scans afterwards apply
    one small DV set instead of a per-row key anti-join, and data files
    stay byte-identical (clusterings, blooms, stats all stay valid).

    Safe under the v2 sequence rules: the new DV rows commit at a NEWER
    sequence than every data file they reference, and rows matched here
    are exactly the rows the eq anti-join would have filtered (the inner
    join below uses the same predicate). Conflicts: a concurrent MERGE's
    new deletes/upserts would change the match set — serialized via
    conflict_on_operations, like any mutating batch.
    """
    from moonlink_spark.schema import table_identity
    from moonlink_spark.table.scan import (
        FILE_COL,
        POS_COL,
        attach_data_seq,
        check_eq_identity,
        eq_delete_frame,
        eq_match_cond,
        scan,
    )

    table.refresh()
    eqs = table.entries(content=EQ_DELETES)
    if len(eqs) < min_files:
        return RewriteDeletesResult(None, len(eqs), len(eqs), 0, skipped=True)
    keys = table_identity(table)
    check_eq_identity(eqs, keys)
    eq = eq_delete_frame(spark, table.schema, keys, eqs)
    data = table.data_entries()
    # rows NOT yet DV-deleted, eq rule NOT applied (we're materializing it);
    # column-pruned to the identity keys — payload bytes never read
    rows = scan(
        spark, table, columns=keys, with_pos=True, eq_delete_entries=[]
    )
    rows = attach_data_seq(spark, rows, data)
    matched = rows.join(eq, eq_match_cond(rows, keys), "inner").select(
        F.col(FILE_COL).alias("file_path"), F.col(POS_COL).alias("pos")
    )
    entries = write_delete_files(
        spark, matched, table.new_delete_dir(), num_files=num_files
    )
    n_keys = sum(e.record_count for e in eqs)
    n_pos = sum(e.record_count for e in entries)
    snap = table.commit_with_retry(
        "rewrite-deletes",
        added=entries,
        removed_paths={e.path for e in eqs},
        referenced_data_paths={e.path for e in data},
        conflict_on_operations={"merge"},
        summary_extra={
            "resolved-eq-files": len(eqs),
            "resolved-eq-keys": n_keys,
            "materialized-positions": n_pos,
        },
    )
    return RewriteDeletesResult(snap, len(eqs), len(entries), 0)


def removable_delete_files(
    spark: SparkSession, table: Table, removed_data_paths: set[str]
) -> set[str]:
    """Delete files whose rows ALL reference removed data files — safe to drop
    in the same commit (moonlink's deletion-log remap analog, O11,
    snapshot_maintenance.rs:369-424).

    The all-dangling predicate is computed as an aggregate (min over a
    broadcast-membership flag), so the driver receives one row per DELETE
    FILE — never per referenced data file — even when a delete file touches
    millions of data files.

    Fast path: DV2 delete files hold ONE ROW PER REFERENCED DATA FILE
    (metadata-scale by construction), so for bounded delete-file counts the
    answer comes from a threaded pyarrow read of just the ``file_path``
    column — zero Spark jobs on the compaction hot path. Falls back to the
    distributed aggregate when the set is large or holds big v1
    (row-per-position) files."""
    dels = table.delete_entries()
    if not dels:
        return set()
    # delete files record normalized data-file paths (format.norm_path)
    removed_paths = {norm_path(p) for p in removed_data_paths}
    driver_ok = len(dels) <= _DRIVER_DELETE_SCAN_FILES and all(
        e.stats.get("format") in ("dv2", "dv2c")
        or e.record_count <= _DRIVER_DELETE_SCAN_ROWS
        for e in dels
    )
    if driver_ok:
        from concurrent.futures import ThreadPoolExecutor

        from moonlink_spark.table.stats import _open_footer

        def all_dangling(e: FileEntry) -> bool:
            pf, _ = _open_footer(e.path)
            col = pf.read(columns=["file_path"]).column("file_path")
            refs = set(col.to_pylist())
            return bool(refs) and refs <= removed_paths

        with ThreadPoolExecutor(max_workers=min(16, len(dels))) as ex:
            flags = list(ex.map(all_dangling, dels))
        return {e.path for e, f in zip(dels, flags) if f}
    # only file_path is needed (one row per referenced data file in DV v2;
    # one per position in v1) — schema-projected read covers both formats
    ddf = spark.read.schema("file_path string").parquet(*[e.path for e in dels])
    removed = F.broadcast(local_frame(spark, {"rp": removed_paths}, "rp string"))
    refs = (
        ddf.withColumn("src", _norm_path(F.input_file_name()))
        .join(removed, F.col("file_path") == F.col("rp"), "left")
        .groupBy("src")
        .agg(F.min(F.col("rp").isNotNull().cast("int")).alias("all_removed"))
        .filter(F.col("all_removed") == 1)
        .collect()
    )
    srcs = {r["src"] for r in refs}
    return {e.path for e in dels if norm_path(e.path) in srcs}


def removable_eq_delete_files(table: Table, removed_data_paths: set[str]) -> set[str]:
    """Equality-delete files with no remaining target — droppable in the
    same commit. An eq-delete at sequence S applies only to data files with
    sequence < S (table/scan.py rule); compaction outputs take the NEW
    commit sequence (their rows were eq-filtered during the rewrite read),
    so after removing ``removed_data_paths`` the file is dangling iff every
    SURVIVING data file has sequence >= S. Needs only the min surviving
    sequence, read from the entry list the removing commit reads anyway."""
    eqs = table.entries(content=EQ_DELETES)
    if not eqs:
        return set()
    min_seq = min(
        (
            e.sequence_number
            for e in table.data_entries()
            if e.path not in removed_data_paths
        ),
        default=None,
    )
    return {e.path for e in eqs if min_seq is None or e.sequence_number <= min_seq}


def _live_bytes(e: FileEntry, del_counts: dict[str, int]) -> int:
    live_frac = 1.0 - (del_counts.get(norm_path(e.path), 0) / max(e.record_count, 1))
    return int(e.file_size_bytes * live_frac)


def select_candidates(
    table: Table,
    del_counts: dict[str, int],
    mode: str = BEST_EFFORT,
    target_bytes: int = COMPACT_TARGET_BYTES,
    min_files: int = 16,
    max_files: int = 32,
    delete_ratio: float = 0.5,
    entries: list[FileEntry] | None = None,
) -> list[FileEntry]:
    """Trigger policy per compaction_config.rs:47-54 + mode overrides per
    snapshot_maintenance.rs:57-76. ``entries`` restricts the candidate pool
    (scoped compaction); default is the whole snapshot."""
    data = entries if entries is not None else table.data_entries()
    # on a bucketed table, an unbucketed file is un-indexed (always probed by
    # MERGE) — it is a compaction candidate regardless of size so the
    # bucketize rewrite picks it up
    unindexed = (
        (lambda e: e.bucket is None) if table_buckets(table) else (lambda e: False)
    )
    if mode == FULL:
        cand = [
            e
            for e in data
            if e.file_size_bytes < target_bytes
            or del_counts.get(norm_path(e.path), 0) > 0
            or unindexed(e)
        ]
        # a lone unbucketed file is still worth rewriting: bucketizing it
        # removes a permanent MERGE probe candidate (it would otherwise be
        # probed by every batch forever); plain 1-file concat stays pointless
        if len(cand) == 1 and not unindexed(cand[0]):
            return []
        return cand if len(cand) >= 1 else []
    cand = [
        e
        for e in data
        if e.file_size_bytes < target_bytes
        or unindexed(e)
        or (e.record_count and del_counts.get(norm_path(e.path), 0) / e.record_count >= delete_ratio)
    ]
    # (size, path) is a total order — ties select the same files whatever
    # order the manifests list them in
    cand.sort(key=lambda e: (e.file_size_bytes, e.path))
    need = 2 if mode == FORCE_REGULAR else min_files
    if len(cand) < need:
        return []
    return cand[:max_files]


def plan_bins(
    selected: list[FileEntry],
    del_counts: dict[str, int],
    target_bytes: int,
    order_col: str = "image_id",
) -> list[list[FileEntry]]:
    """Greedy size packing of whole files into ~target_bytes bins, ordered by
    each file's lower bound on ``order_col`` so pre-existing key clustering
    carries into the outputs (and manifest bounds stay tight).

    Files are grouped by key-bucket first — bins never mix buckets, so the
    compacted outputs stay bucket-pure and MERGE probe pruning survives
    compaction (moonlink rebuilds its file index on compaction for the same
    reason, reference: src/moonlink/src/storage/compaction/compactor.rs:130-168).
    Un-bucketed files (bucket None) form their own group.
    """

    def sort_key(e: FileEntry):
        st = e.stats.get(order_col) or {}
        mn = st.get("min")
        return (0, mn) if mn is not None else (1, e.path)

    groups: dict[int | None, list[FileEntry]] = {}
    for e in selected:
        groups.setdefault(e.bucket, []).append(e)

    bins: list[list[FileEntry]] = []
    for _, group in sorted(groups.items(), key=lambda kv: (kv[0] is None, kv[0] or 0)):
        cur: list[FileEntry] = []
        cur_bytes = 0
        for e in sorted(group, key=sort_key):
            lb = _live_bytes(e, del_counts)
            if cur and cur_bytes + lb > target_bytes:
                bins.append(cur)
                cur, cur_bytes = [], 0
            cur.append(e)
            cur_bytes += lb
        if cur:
            bins.append(cur)
    return bins


def compact(
    spark: SparkSession,
    table: Table,
    mode: str = BEST_EFFORT,
    target_bytes: int = COMPACT_TARGET_BYTES,
    min_files: int = 16,
    max_files: int = 32,
    delete_ratio: float = 0.5,
    checkpoint_root: str | None = None,
    scope_key: str | list[str] | None = None,
    scope_lo=None,
    scope_hi=None,
    scope_buckets: set[int] | None = None,
) -> CompactResult:
    """``scope_*`` limits the rewrite to a slice of the table — the 100 TB
    spot-maintenance shape (compact the hot key range / buckets a skewed
    ingest just fragmented, not the whole table). ``scope_key``+bounds
    prune the candidate pool by manifest min/max exactly like ``scan_range``
    (through the one candidate planner, planning.py); ``scope_buckets``
    restricts to those key buckets (un-bucketed files stay eligible — they
    are MERGE-probe debt wherever they live). The selection policy
    (min_files, delete_ratio...) then applies WITHIN the slice."""
    table.refresh()
    # selection runs on the driver over the snapshot's entry list: the
    # delete-file scans below and the removing commit parse every manifest
    # anyway, so a Spark job over the manifests would save no driver memory
    pool = None
    if scope_key is not None or scope_buckets is not None:
        from moonlink_spark.table.planning import plan_data_candidates

        pool, _ = plan_data_candidates(
            spark, table, scope_key or [], scope_lo, scope_hi,
            batch_buckets=scope_buckets,
        )
    del_counts = _delete_counts(spark, table)
    selected = select_candidates(
        table, del_counts, mode, target_bytes, min_files, max_files,
        delete_ratio, entries=pool,
    )
    if not selected:
        return CompactResult(None, 0, 0, 0, 0, 0, skipped=True)

    sel_paths = {e.path for e in selected}

    # Deferred bucketization (the index half of moonlink's flush/compact
    # split): MERGE flushes inserts unbucketed to keep the ingest path
    # shuffle-free; compaction routes every selected UNBUCKETED file through
    # one bucketed rewrite (the shuffle happens here, off the hot path), and
    # the already-bucketed files through the shuffle-free per-bucket concat
    # bins. After a full compaction the whole table is bucket-pure and MERGE
    # probes prune by bucket.
    buckets = table_buckets(table)
    to_bucketize = [e for e in selected if e.bucket is None] if buckets else []
    binnable = [e for e in selected if e.bucket is not None] if buckets else selected
    bins = plan_bins(binnable, del_counts, target_bytes)

    base_snapshot = table.md.current_snapshot_id
    ckpt = (
        JobCheckpoint(checkpoint_root, f"compact-snap{base_snapshot}")
        if checkpoint_root
        else None
    )
    # deterministic per base snapshot: a crashed run's resume lands in the
    # same directory and per-bin overwrite makes partial outputs idempotent
    out_root = os.path.join(table.data_root, "data", f"compact-{base_snapshot}")
    accessor_for(out_root).mkdirs(out_root)

    def rewrite_bin(i: int) -> list[FileEntry]:
        bin_entries = bins[i]
        out_dir = os.path.join(out_root, f"bin-{i:05d}")
        live = scan(spark, table, data_entries=bin_entries)
        from moonlink_spark.table.fieldids import stamp_field_ids

        live = stamp_field_ids(live, table.schema)
        # one streaming-concat task per output file, moonlink compactor-style
        live.coalesce(1).write.mode("overwrite").parquet(out_dir)
        from moonlink_spark.table.fieldids import schema_field_id_map

        out = [
            e
            for e in collect_file_entries(
                spark,
                list_parquet(out_dir),
                expected_field_ids=schema_field_id_map(table.schema),
            )
            if e.record_count > 0
        ]
        # bins never mix buckets (plan_bins) — outputs inherit the bin's
        # bucket; their key blooms are rebuilt in ONE batched job over every
        # bin's outputs just before commit (below), not per bin
        return _assign_bin_bucket(i, out)

    def run_bin(i: int) -> list[FileEntry]:
        if ckpt:
            return ckpt.run(
                f"bin-{i:05d}",
                lambda: rewrite_bin(i),
                sources=sorted(e.path for e in bins[i]),
            ).entries
        return rewrite_bin(i)

    def _assign_bin_bucket(i: int, out: list[FileEntry]) -> list[FileEntry]:
        bin_buckets = {e.bucket for e in bins[i]}
        if len(bin_buckets) == 1 and None not in bin_buckets:
            b = next(iter(bin_buckets))
            for e in out:
                e.bucket = b
        return out

    def rewrite_bins_batched() -> list[FileEntry]:
        """All bins in ONE Spark job: union of coalesce(1) branches (one
        single-task streaming concat per bin, no shuffle, input order
        preserved — same execution shape as per-bin jobs) written with
        partitionBy(bin id); entries are split back per bin from the
        __cbin=N directories and per-bin lineage checkpointed post-hoc."""
        from functools import reduce

        from moonlink_spark.table.fieldids import schema_field_id_map, stamp_field_ids

        if ckpt:  # full resume: every bin step completed in a prior attempt
            cached = [ckpt.load(f"bin-{i:05d}") for i in range(len(bins))]
            if all(c is not None for c in cached):
                return [e for c in cached for e in c.entries]

        out_dir = os.path.join(out_root, "binned")
        parts = [
            stamp_field_ids(scan(spark, table, data_entries=bins[i]), table.schema)
            .coalesce(1)
            .withColumn(_BIN_COL, F.lit(i))
            for i in range(len(bins))
        ]
        df = reduce(lambda a, b: a.unionByName(b), parts)
        df.write.mode("overwrite").partitionBy(_BIN_COL).parquet(out_dir)

        paths = [p for p in list_parquet(out_dir) if f"{_BIN_COL}=" in p]
        entries = collect_file_entries(
            spark, paths, expected_field_ids=schema_field_id_map(table.schema)
        )
        by_bin: dict[int, list[FileEntry]] = {}
        for e in entries:
            i = int(os.path.basename(os.path.dirname(e.path)).split("=", 1)[1])
            if e.record_count > 0:
                by_bin.setdefault(i, []).append(e)
        out: list[FileEntry] = []
        for i in range(len(bins)):
            outs = _assign_bin_bucket(i, by_bin.get(i, []))
            if ckpt:
                ckpt.save(
                    f"bin-{i:05d}", outs, sources=sorted(e.path for e in bins[i])
                )
            out.extend(outs)
        return out

    def bucketize() -> list[FileEntry]:
        if not to_bucketize:
            return []
        from moonlink_spark.table.writer import (
            table_bucket_key,
            write_bucketed_data_files,
        )

        out_dir = os.path.join(out_root, "bucketize")
        live = scan(spark, table, data_entries=to_bucketize)
        rows = sum(e.record_count for e in to_bucketize)
        row_bytes = max(
            64, sum(e.file_size_bytes for e in to_bucketize) // max(rows, 1)
        )
        # mode=overwrite clears out_dir before writing: a bucketize retry
        # after a crash (failed write or lost checkpoint step) replaces any
        # partial/duplicate output instead of appending a second full copy —
        # the same per-directory idempotence rewrite_bin gets from overwrite
        entries = write_bucketed_data_files(
            spark,
            live,
            out_dir,
            key=table_bucket_key(table),
            buckets=buckets,
            max_records_per_file=max(256, target_bytes // row_bytes),
            mode="overwrite",
            field_id_schema=table.schema,
            build_blooms=False,  # batched with the bin outputs below
        )
        return [e for e in entries if e.record_count > 0]

    def run_bucketize() -> list[FileEntry]:
        if ckpt:
            return ckpt.run(
                "bucketize", bucketize, sources=sorted(e.path for e in to_bucketize)
            ).entries
        return bucketize()

    batched = len(bins) > _BATCH_BINS_THRESHOLD
    if batched:
        # one Spark job for ALL bins — O(1) driver jobs per compaction even
        # at 100 TB bin counts; bucketize overlaps as its own job
        with ThreadPoolExecutor(max_workers=2) as ex:
            fut = ex.submit(run_bucketize)
            new_entries = rewrite_bins_batched()
            new_entries += fut.result()
    else:
        with ThreadPoolExecutor(
            max_workers=min(_MAX_CONCURRENT_BINS, len(bins) + 1)
        ) as ex:
            fut = ex.submit(run_bucketize)
            new_entries = [e for res in ex.map(run_bin, range(len(bins))) for e in res]
            new_entries += fut.result()

    # rebuild per-file key blooms for ALL bucket-pure outputs in ONE
    # column-pruned job per compaction (moonlink rebuilds its file index on
    # compaction too, compactor.rs:331-365) — batching per commit instead of
    # per bin removes a fixed-cost Spark job from every bin
    if buckets:
        from moonlink_spark.table.bloom import BLOOM_STAT, attach_key_blooms

        bloomable = [
            e for e in new_entries if e.bucket is not None and BLOOM_STAT not in e.stats
        ]
        attach_key_blooms(
            spark, bloomable, table_bucket_key(table), sidecar_dir=out_root
        )

    # delete files now fully dangling → drop in the same commit
    removable_deletes = removable_delete_files(spark, table, sel_paths)
    removable_deletes |= removable_eq_delete_files(table, sel_paths)

    # per-task skew signal (north rule: lineage + metrics per task): how
    # unevenly the planned bins pack — max live-bytes bin over the mean
    bin_bytes = [
        sum(_live_bytes(e, del_counts) for e in b) for b in bins
    ] or [0]
    metrics = {
        "mode": mode,
        "in_files": len(selected),
        "out_files": len(new_entries),
        "in_bytes": sum(e.file_size_bytes for e in selected),
        "out_bytes": sum(e.file_size_bytes for e in new_entries),
        "removed_delete_files": len(removable_deletes),
        "bins": len(bins),
        "bin_jobs": 1 if batched else len(bins),
        "bin_skew_ratio": (
            round(max(bin_bytes) * len(bin_bytes) / sum(bin_bytes), 3)
            if sum(bin_bytes)
            else None
        ),
    }
    # retry rebases over concurrent appends; anything that touched the
    # selected files (another compaction) or added DVs that would dangle
    # after this rewrite (a concurrent MERGE) raises ValidationConflict
    snap = table.commit_with_retry(
        "compact",
        added=new_entries,
        removed_paths=sel_paths | removable_deletes,
        conflict_on_new_deletes=True,
        summary_extra={"compact-metrics": metrics},
    )
    return CompactResult(
        snap,
        len(selected),
        len(new_entries),
        metrics["in_bytes"],
        metrics["out_bytes"],
        len(removable_deletes),
        metrics=metrics,
    )
