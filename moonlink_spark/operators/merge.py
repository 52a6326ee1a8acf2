"""MERGE INTO — apply one CDC upsert/delete batch as a single snapshot commit.

Replaces moonlink's whole ingest pipeline (append/delete/commit/flush +
index lookup; reference: src/moonlink/src/storage/mooncake_table.rs:1134-1293,
snapshot deletion resolution src/moonlink/src/storage/mooncake_table/
snapshot.rs:774-1003) with one merge-on-read batch job:

    cdc ──dedup (latest LSN wins; tiny winner-set agg + semi join)──► Δ
    table keys (column-pruned, stat-pruned scan) ⋈ Δ  ► matched (file,pos)
    matched ──► positional delete files
    Δ upserts ──► new data files (size-tuned)
    one snapshot commit stamped with the batch LSN

Scale notes (10^12-image design point):
- the probe scan reads ONLY the key column + parquet metadata (column
  pruning), never the image bytes; files are pre-pruned with manifest
  min/max bounds of image_id against the batch's key range — the Spark-first
  analog of moonlink's GlobalIndex probe
  (src/moonlink/src/storage/index/persisted_bucket_hash_map.rs:276-307).
- CDC batches far smaller than the table broadcast; bigger batches
  sort-merge-join with AQE.
- merge-on-read: a batch commit writes O(batch) bytes, not O(table) —
  compaction folds deletes in later, exactly moonlink's flush/compaction
  split.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moonlink_spark.checkpoint import JobCheckpoint
from moonlink_spark.functions.salting import ORD_COL, winning_ords
from moonlink_spark.table.bloom import BLOOM_STAT, prune_by_bloom_distributed
from moonlink_spark.schema import MERGE_KEY, normalize_keys, table_identity
from moonlink_spark.table.catalog import Table
from moonlink_spark.table.format import FileEntry, Snapshot
from moonlink_spark.table.planning import plan_data_candidates
from moonlink_spark.table.scan import FILE_COL, POS_COL, scan
from moonlink_spark.table.writer import (
    FLUSH_TARGET_BYTES,
    bucket_expr,
    table_bucket_key,
    table_buckets,
    write_data_files,
    write_delete_files,
    write_eq_delete_files,
)

# Broadcast ceiling for the key-only probe side — same sizing logic as the
# scan-side delete broadcast (table/scan.py): a broadcast hash relation holds
# the key string per row (~100B key + overhead ≈ 300B/row), so 1M rows ≈
# 300MB on the driver and every executor. Bigger batches shuffle-join (AQE).
_BROADCAST_CDC_ROWS = 1_000_000

# Bloom-probe ceiling: probing collects the batch's distinct key hashes to
# the driver (8B each ⇒ 16MB at the cap) and tests them against candidate
# blooms in numpy. Broader batches skip the bloom stage — at that breadth a
# uniform batch almost certainly touches every file anyway.
_BLOOM_PROBE_MAX_KEYS = 2_000_000

# Bloom key hashes piggyback on the per-bucket stats aggregation as a
# per-bucket collect_list CAPPED at this length (64 buckets × 50k × 8B ≈
# 25MB driver ceiling). Complete for every batch whose largest bucket is
# under the cap — the separate key-hash job the bloom probe used to run is
# gone; a bucket that hits the cap simply falls back to that job.
_BLOOM_HASHES_PER_BUCKET = 50_000

# table property declaring the default MERGE mode ("eager" | "lazy") — the
# per-table analog of moonlink's table-level config block
# (mooncake_table_config.rs): hot ingest tables declare "lazy" once and
# every front-end (sync, REST ingest, streaming) inherits it
MERGE_MODE_PROP = "moonlink.merge.mode"


def _estimate_row_bytes(table: Table, override: int | None) -> int:
    """On-disk bytes/row from manifest stats (same payload distribution as
    the incoming batch); 4096 for an empty table."""
    if override:
        return override
    entries = table.data_entries()
    rows = sum(e.record_count for e in entries)
    if not rows:
        return 4096
    return max(64, sum(e.file_size_bytes for e in entries) // rows)


@dataclass
class MergeResult:
    snapshot: Snapshot | None
    upserted: int
    deleted: int
    matched: int
    skipped: bool = False  # batch already committed (idempotent re-run)
    metrics: dict | None = None


def merge_cdc_batch(
    spark: SparkSession,
    table: Table,
    cdc_df: DataFrame,
    lsn: int,
    key: str | list[str] | None = None,
    avg_row_bytes: int | None = None,  # None: estimated from manifest stats
    checkpoint_root: str | None = None,
    mode: str | None = None,
) -> MergeResult:
    """Apply a CDC batch (schema: op, lsn, <table columns>) at commit ``lsn``.

    Idempotent: if the table's flush LSN is already >= ``lsn`` the batch was
    committed by a previous attempt and this is a no-op (moonlink's WAL-replay
    guarantee, reference: src/moonlink/src/storage/wal.rs:205-220).

    ``key``: the row-identity columns — a single name, a composite list
    (moonlink IdentityProp::Keys, moonlink_row.rs:271-280; FullRow = every
    column), or None to use the table's declared identity (IDENTITY_PROP,
    default MERGE_KEY). All identity columns must be non-null.

    ``mode``: ``"eager"`` (default) probes the table and writes positional
    deletes — read-optimized. ``"lazy"`` writes the batch's identity keys
    as ONE equality-delete file and skips the probe entirely (Iceberg v2
    eq-deletes; moonlink's delete-by-key buffering,
    mooncake_table.rs:1160-1184): commit cost is strictly O(batch) with
    ZERO table reads — the latency-optimized ingest path for hot streams —
    at the price of a key anti-join at scan until compaction folds the
    keys into data rewrites (the flush-fast / resolve-on-maintenance split
    taken one step further).
    """
    table.refresh()
    if table.flush_lsn is not None and table.flush_lsn >= lsn:
        return MergeResult(None, 0, 0, 0, skipped=True)
    # mode: explicit arg > table's declared default (MERGE_MODE_PROP) >
    # eager — so ingest front-ends (sync, REST service, streaming) honor a
    # per-table latency/read-cost choice without threading a parameter
    if mode is None:
        mode = table.md.properties.get(MERGE_MODE_PROP, "eager")
    if mode not in ("eager", "lazy"):
        raise ValueError(f"unknown merge mode {mode!r} (eager|lazy)")
    keys = normalize_keys(key) if key is not None else table_identity(table)

    ckpt = (
        JobCheckpoint(checkpoint_root, f"merge-lsn{lsn}") if checkpoint_root else None
    )

    # 1. latest-wins dedup inside the batch: one map-side-combined agg over
    #    (keys, lsn, op) gives the per-key winner set — TINY (no payload), so
    #    it is the thing we cache; the image payload itself never shuffles
    #    (the semi join below broadcasts the winners via AQE)
    staged, winners = winning_ords(cdc_df, keys, "lsn", tiebreak_col="op")
    winners = winners.cache()

    # 2. ONE driver-blocking job over the winner set: batch size + per-column
    #    key bounds + upsert count + the batch's key-bucket set (materializes
    #    the winners cache). Bucket/bloom pruning applies only when the
    #    table's physical layout key IS this batch's identity — build and
    #    probe must hash the same columns or pruning would silently drop
    #    files that DO contain batch keys.
    buckets = table_buckets(table)
    use_layout = bool(buckets) and table_bucket_key(table) == keys
    # min/max bounds only for orderable atomic columns (binary/complex
    # identity columns — FullRow tables — carry no stats bounds)
    boundable = [
        k
        for k in keys
        if table.schema[k].dataType.simpleString()
        not in ("binary",)
        and not table.schema[k].dataType.simpleString().startswith(("array", "map", "struct"))
    ]
    null_key = F.lit(False)
    for k in keys:
        null_key = null_key | F.col(k).isNull()
    aggs = [
        F.count("*").alias("n"),
        F.sum((F.col(ORD_COL)["op"] == "U").cast("long")).alias("n_up"),
        F.sum(null_key.cast("long")).alias("n_null_key"),
        *[F.min(k).alias(f"__lo_{k}") for k in boundable],
        *[F.max(k).alias(f"__hi_{k}") for k in boundable],
    ]
    skew_ratio = None
    key_hashes = None  # piggybacked below when complete; else fetched later
    if use_layout:
        # the SAME single job, grouped by key bucket: yields the batch's
        # bucket set, per-bucket row counts — the phash-hot-key skew signal
        # the checkpoint metrics record — global bounds folded from
        # <= bucket-count tiny rows driver-side, AND the bloom probe's key
        # hashes (capped per bucket) so no separate hash job runs
        import numpy as np

        aggs.append(
            F.slice(
                F.collect_list("__h"), 1, _BLOOM_HASHES_PER_BUCKET
            ).alias("__hs")
        )
        per_b = (
            winners.withColumn("__h", F.xxhash64(*[F.col(k) for k in keys]))
            .groupBy(bucket_expr(keys, buckets).alias("__bk"))
            .agg(*aggs)
            .collect()
        )
        n_cdc = sum(r["n"] for r in per_b)
        n_up = sum(r["n_up"] for r in per_b)
        n_null_key = sum(r["n_null_key"] for r in per_b)
        batch_buckets = {r["__bk"] for r in per_b}

        def _fold(col: str, fn):
            vals = [r[col] for r in per_b if r[col] is not None]
            return fn(vals) if vals else None

        bounds = [(k, _fold(f"__lo_{k}", min), _fold(f"__hi_{k}", max)) for k in boundable]
        if n_cdc:
            skew_ratio = round(
                max(r["n"] for r in per_b) * len(per_b) / n_cdc, 3
            )
        if all(r["n"] <= _BLOOM_HASHES_PER_BUCKET for r in per_b):
            key_hashes = (
                np.concatenate(
                    [np.asarray(r["__hs"], dtype=np.int64) for r in per_b]
                )
                if per_b
                else np.asarray([], dtype=np.int64)
            )
    else:
        agg = winners.agg(*aggs).collect()[0]
        # empty batch: count is 0 but the SUM aggregates come back NULL
        n_cdc = int(agg["n"] or 0)
        n_up = int(agg["n_up"] or 0)
        n_null_key = int(agg["n_null_key"] or 0)
        batch_buckets = None
        bounds = [(k, agg[f"__lo_{k}"], agg[f"__hi_{k}"]) for k in boundable]
    # A NULL identity column has no identity to upsert/delete against
    # (moonlink validates identity at table creation,
    # mooncake_table.rs:126-136). The inline semi join below would silently
    # drop such rows — fail loudly instead so the producer fixes the batch.
    if n_null_key:
        raise ValueError(
            f"CDC batch has {n_null_key} rows with a NULL identity "
            f"column (keys={keys}); MERGE requires non-null identity"
        )
    deduped = staged.join(winners, [*keys, ORD_COL], "left_semi").drop(ORD_COL)

    row_bytes = _estimate_row_bytes(table, avg_row_bytes)

    def _write_upserts() -> list[FileEntry]:
        if n_up == 0:
            return []
        ups = deduped.filter(F.col("op") == "U").select(
            *[f.name for f in table.schema.fields]
        )
        # size files via maxRecordsPerFile and KEEP the batch's partitioning —
        # never repartition down to ceil(bytes/128MB) tasks (that serialized
        # big-image batches onto 1-2 writers); undersized files are
        # compaction's job to merge later, exactly the moonlink flush/compact
        # split (mooncake_table_config.rs:24 vs compaction_config.rs:52).
        # Inserts are NOT bucketed at flush time: that would shuffle the
        # payload on the ingest hot path; compaction bucketizes later.
        rpf = max(256, FLUSH_TARGET_BYTES // row_bytes)
        est_bytes = n_up * row_bytes
        if est_bytes < FLUSH_TARGET_BYTES:
            # micro-batch flush (streaming cadence): scheduling one near-
            # empty write task per input partition — and then footer-reading
            # the up-to-64 one-row files it emits — IS the merge fixed cost
            # at this size. A no-shuffle coalesce bounds the write to a few
            # tasks sized by estimated bytes. Floor of 4, not 1: coalesce
            # propagates up the plan, so a 1-task write would run the whole
            # source + semi-join + zstd compression single-threaded (it
            # measurably slowed event-ingest fixtures). Batches of at least
            # one target file's worth keep their partitioning (rule above).
            ups = ups.coalesce(
                max(4, int(est_bytes // (FLUSH_TARGET_BYTES // 8)) + 1)
            )
        entries = write_data_files(
            spark,
            ups,
            table.new_data_dir(),
            max_records_per_file=rpf,
            field_id_schema=table.schema,
        )
        return [e for e in entries if e.record_count > 0]

    if mode == "lazy":
        # equality-delete path: NO probe, NO table read — the batch's winner
        # keys become one eq-delete file (applies to strictly-older data
        # files, so this commit's own upserts survive; table/scan.py rule)
        def write_eq() -> list[FileEntry]:
            if n_cdc == 0:
                return []
            return write_eq_delete_files(
                spark, winners.select(*keys), table.new_delete_dir(), keys
            )

        t0 = time.perf_counter()
        if ckpt:
            eq_entries = ckpt.run("eq-deletes", write_eq, sources=["cdc"]).entries
            ins_entries = ckpt.run("inserts", _write_upserts, sources=["cdc"]).entries
        else:
            eq_entries = write_eq()
            ins_entries = _write_upserts()
        n_upserted = sum(e.record_count for e in ins_entries)
        n_keys = sum(e.record_count for e in eq_entries)
        metrics = {
            "mode": "lazy",
            "cdc_rows": n_cdc,
            "eq_delete_keys": n_keys,
            "upserted": n_upserted,
            "data_files": len(ins_entries),
            "batch_skew_ratio": skew_ratio,
            "write_sec": round(time.perf_counter() - t0, 3),
        }
        # no referenced_data_paths: a lazy merge depends on NO existing file,
        # so it composes conflict-free with concurrent compaction (the eq
        # keys apply to the rewritten files by the sequence rule); racing
        # MERGEs still serialize on the operation name
        snap = table.commit_with_retry(
            "merge",
            added=eq_entries + ins_entries,
            conflict_on_operations={"merge"},
            lsn=lsn,
            summary_extra={"merge-metrics": metrics},
        )
        winners.unpersist()
        return MergeResult(snap, n_upserted, n_keys, 0, metrics=metrics)

    # prune candidate data files — the GlobalIndex probe, three stages
    # (reference: src/moonlink/src/storage/index/persisted_bucket_hash_map.rs:276-307):
    #   1. bucket set: a file whose bucket no CDC key hashes into cannot match
    #   2. min/max key bounds from manifest stats
    #   3. per-file key blooms: a file containing NONE of the batch's keys is
    #      dropped even when the batch is broader than the bucket count
    # Stages 1-2 are the candidate planner (table/planning.py): a Spark job
    # over parquet manifests at scale, the driver predicate over JSON ones.
    total_files = None
    candidates: list[FileEntry] = []
    if n_cdc > 0:
        candidates, total_files = plan_data_candidates(
            spark,
            table,
            [b[0] for b in bounds],
            [b[1] for b in bounds],
            [b[2] for b in bounds],
            batch_buckets=batch_buckets,
        )
    pre_bloom = len(candidates)
    # bloom pruning shares the layout-key guard: blooms are BUILT over the
    # table's bucket key at write time, so probing them with a different
    # identity's hashes would prune files that do contain batch keys
    if use_layout and candidates and n_cdc <= _BLOOM_PROBE_MAX_KEYS and any(
        BLOOM_STAT in e.stats for e in candidates
    ):
        if key_hashes is None:  # large batch — the small path didn't run
            key_hashes = (
                winners.select(F.xxhash64(*[F.col(k) for k in keys]).alias("h"))
                .toPandas()["h"]
                .to_numpy()
            )
        # self-selects: driver numpy for small candidate lists, one Spark
        # job (O(survivors) driver) past DISTRIBUTED_PROBE_MIN
        candidates = prune_by_bloom_distributed(spark, candidates, key_hashes)

    # 3. probe: column-pruned scan of candidates joined to batch keys; the
    #    matched (file,pos) set goes straight to delete files — the row count
    #    comes back from the written footers, no separate count job
    cdc_keys = winners.select(*keys)
    if n_cdc <= _BROADCAST_CDC_ROWS:
        cdc_keys = F.broadcast(cdc_keys)

    def write_deletes() -> list[FileEntry]:
        if not candidates:
            return []
        probe = scan(
            spark, table, columns=keys, with_pos=True, data_entries=candidates
        )
        matched = probe.join(cdc_keys, keys, "inner").select(
            F.col(FILE_COL).alias("file_path"), F.col(POS_COL).alias("pos")
        )
        # delete rows are tiny: the DV pack (groupBy file_path inside
        # write_delete_files) is the only shuffle, and the packed rows
        # (one per data file) land in few output files
        n_files = max(1, n_cdc // 10_000_000)
        entries = write_delete_files(
            spark, matched, table.new_delete_dir(), num_files=n_files
        )
        return [e for e in entries if e.record_count > 0]

    src = [e.path for e in candidates]
    t0 = time.perf_counter()
    if ckpt:
        del_entries = ckpt.run("deletes", write_deletes, sources=src).entries
        t1 = time.perf_counter()
        ins_entries = ckpt.run("inserts", _write_upserts, sources=["cdc"]).entries
        t2 = time.perf_counter()
    else:
        # the two write jobs are independent (probe+DV pack reads existing
        # files; the insert write reads only the cached batch) — run them as
        # concurrent Spark jobs from two driver threads. At micro-batch
        # cadence this folds one job's fixed cost into the other's wall
        # time; at bench scale it overlaps probe IO with payload writing.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(_write_upserts)
            del_entries = write_deletes()
            t1 = time.perf_counter()
            ins_entries = fut.result()
        t2 = time.perf_counter()

    n_upserted = sum(e.record_count for e in ins_entries)
    n_matched = sum(e.record_count for e in del_entries)
    metrics = {
        "cdc_rows": n_cdc,
        "matched": n_matched,
        "upserted": n_upserted,
        "delete_files": len(del_entries),
        "data_files": len(ins_entries),
        "pruned_candidates": len(candidates),
        "bloom_pruned_from": pre_bloom,
        "total_data_files": total_files,
        "batch_skew_ratio": skew_ratio,
        "probe_delete_sec": round(t1 - t0, 3),
        "insert_write_sec": round(t2 - t1, 3),
    }
    # optimistic retry: appends/maintenance landing first are rebased over;
    # a concurrent compaction of the probed candidates (DVs would dangle) or
    # a concurrent MERGE (duplicate identities) raises ValidationConflict
    snap = table.commit_with_retry(
        "merge",
        added=del_entries + ins_entries,
        referenced_data_paths=set(src),
        conflict_on_operations={"merge"},
        lsn=lsn,
        summary_extra={"merge-metrics": metrics},
    )
    winners.unpersist()
    return MergeResult(snap, n_upserted, n_matched, n_matched, metrics=metrics)
