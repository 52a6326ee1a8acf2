import os

import pytest
from pyspark.sql import functions as F

from moonlink_spark.cdc import CdcScheduleGenerator, ReferenceTable, to_spark
from moonlink_spark.operators.cluster import cluster, clustering_overlap
from moonlink_spark.operators.compact import FORCE_REGULAR, FULL, compact
from moonlink_spark.operators.expire import expire_snapshots
from moonlink_spark.operators.maintenance import optimize_table
from moonlink_spark.operators.manifest_rewrite import rewrite_manifests
from moonlink_spark.operators.merge import merge_cdc_batch
from moonlink_spark.schema import IMAGES_SCHEMA
from moonlink_spark.table.catalog import create_table
from moonlink_spark.table.scan import scan


def content_hash(spark, table, snapshot_id=None):
    df = scan(spark, table, snapshot_id=snapshot_id)
    row = (
        df.select(
            F.xxhash64("image_id", "caption", "phash", "w", "h", "fmt", "bytes").alias("h")
        )
        .agg(F.sum(F.col("h").cast("decimal(38,0)")).alias("s"), F.count("*").alias("n"))
        .collect()[0]
    )
    return (row["s"], row["n"])


@pytest.fixture()
def loaded(spark, tmp_path):
    """Table built from 4 CDC batches: many small files + delete files."""
    t = create_table(str(tmp_path / "t"), IMAGES_SCHEMA)
    gen = CdcScheduleGenerator(seed=7)
    ref = ReferenceTable()
    for sizes in [(300, 0, 0), (100, 80, 40), (50, 100, 30), (0, 60, 50)]:
        b = gen.next_batch(*sizes)
        ref.apply(b)
        merge_cdc_batch(spark, t, to_spark(spark, b), gen.commit_lsn)
    return t, ref


def test_compact_preserves_content(spark, loaded):
    t, ref = loaded
    before = content_hash(spark, t)
    pre_snap = t.md.current_snapshot_id
    n_files_before = len(t.data_entries())
    res = compact(spark, t, mode=FORCE_REGULAR, target_bytes=1 << 30)
    assert not res.skipped
    assert len(t.data_entries()) < n_files_before
    assert content_hash(spark, t) == before
    # pre-compaction snapshot still byte-identical (snapshot isolation)
    assert content_hash(spark, t, snapshot_id=pre_snap) == before
    assert before[1] == len(ref.rows)


def test_compact_full_removes_dangling_deletes(spark, loaded):
    t, _ = loaded
    assert len(t.delete_entries()) > 0
    res = compact(spark, t, mode=FULL, target_bytes=1 << 30)
    assert not res.skipped
    # all data files rewritten → every delete file fully dangling → removed
    assert len(t.delete_entries()) == 0
    assert res.removed_delete_files > 0


def test_compact_best_effort_respects_min_files(spark, loaded):
    t, _ = loaded
    res = compact(spark, t, min_files=1000)
    assert res.skipped


def test_cluster_zorder_tightens_phash_bounds(spark, loaded):
    t, _ = loaded
    before = content_hash(spark, t)
    ov_before = clustering_overlap(t.data_entries(), "phash")
    res = cluster(spark, t, strategy="zorder", target_bytes=64 * 1024)
    assert not res.skipped and res.out_files > 1
    assert content_hash(spark, t) == before
    ov_after = clustering_overlap(t.data_entries(), "phash")
    assert ov_after <= ov_before, (ov_before, ov_after)


def test_cluster_hilbert_preserves_content(spark, loaded):
    t, _ = loaded
    before = content_hash(spark, t)
    res = cluster(spark, t, strategy="hilbert", target_bytes=128 * 1024)
    assert not res.skipped
    assert content_hash(spark, t) == before


def test_rewrite_manifests_coalesces(spark, loaded):
    t, _ = loaded
    before = content_hash(spark, t)
    n_manifests = len(t.md.current_snapshot().manifests)
    assert n_manifests > 2  # one per merge commit
    res = rewrite_manifests(spark, t)
    assert not res.skipped
    assert res.manifests_after <= 2 < n_manifests
    assert content_hash(spark, t) == before
    assert res.delete_files_after <= res.delete_files_before


def test_rewrite_manifests_sweeps_after_compact(spark, loaded):
    t, _ = loaded
    # compact only SOME files → mixed delete files stay, rows dangle
    before = content_hash(spark, t)
    compact(spark, t, mode=FORCE_REGULAR, max_files=3, target_bytes=1 << 30)
    assert content_hash(spark, t) == before
    rewrite_manifests(spark, t)
    assert content_hash(spark, t) == before
    # swept delete files only reference live data files now
    live = {e.path for e in t.data_entries()}
    if t.delete_entries():
        dels = spark.read.parquet(*[e.path for e in t.delete_entries()])
        refs = {r["file_path"] for r in dels.select("file_path").distinct().collect()}
        assert refs <= live


def _delete_files(t):
    """Every parquet file under the table's ``deletes/`` directory."""
    from moonlink_spark.table.writer import list_parquet

    return list_parquet(os.path.join(t.data_root, "deletes"))


def _zero_row_dv(spark, t):
    """Commit a zero-row DV file, the kind earlier writers left for an empty
    input. ``write_delete_files`` itself now writes no file from no
    position, so the legacy file is written by hand."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from moonlink_spark.session import local_frame
    from moonlink_spark.table.dv import DV2C, DV2_SCHEMA, DV_FORMAT_STAT
    from moonlink_spark.table.format import DELETES, FileEntry
    from moonlink_spark.table.writer import write_delete_files

    none = local_frame(spark, {"file_path": [], "pos": []}, "file_path string, pos long")
    before = _delete_files(t)
    out = t.new_delete_dir()
    assert write_delete_files(spark, none, out) == []
    assert _delete_files(t) == before
    legacy = os.path.join(out, "legacy-empty.parquet")
    pq.write_table(
        pa.Table.from_pylist([], schema=pa.schema([
            ("file_path", pa.string()), ("card", pa.int64()), ("bitmap", pa.binary()),
        ])),
        legacy,
    )
    assert DV2_SCHEMA.startswith("file_path string, card long")
    t.commit("delete", added=[FileEntry(
        DELETES, legacy, 0, os.path.getsize(legacy), 0, {DV_FORMAT_STAT: DV2C}
    )])


def test_empty_delete_writes_leave_no_file(spark, tmp_path):
    """A delete write with nothing to delete leaves no file in ``deletes/``:
    an eager MERGE whose updates and deletes match no row, and an
    equality-delete write from no key."""
    from moonlink_spark.table.writer import write_eq_delete_files

    t = create_table(str(tmp_path / "t"), IMAGES_SCHEMA)
    gen = CdcScheduleGenerator(seed=23)
    merge_cdc_batch(spark, t, to_spark(spark, gen.next_batch(100, 0, 0)), gen.commit_lsn)
    b = gen.next_batch(0, 20, 10)
    rows = to_spark(spark, b)
    # ids no row carries, inside the files' key bounds: the probe reads
    # candidate files and matches nothing
    ghost = rows.withColumn("image_id", F.concat("image_id", F.lit("-ghost")))
    before = _delete_files(t)
    merge_cdc_batch(spark, t, ghost, gen.commit_lsn)
    assert [e for e in t.entries() if e.content != "data"] == []
    assert _delete_files(t) == before
    keys = rows.select("image_id").limit(0)
    assert write_eq_delete_files(spark, keys, t.new_delete_dir(), ["image_id"]) == []
    assert _delete_files(t) == before


def test_rewrite_manifests_leaves_no_zero_row_delete_file(spark, tmp_path):
    """A DV file whose only data file was removed is swept to nothing and
    dropped: the sweep commits no delete entry with zero rows (one that
    ``removable_delete_files`` could never remove later)."""
    from moonlink_spark.datagen import generate_images
    from moonlink_spark.session import local_frame
    from moonlink_spark.table.format import norm_path
    from moonlink_spark.table.writer import write_data_files, write_delete_files

    t = create_table(str(tmp_path / "t"), IMAGES_SCHEMA)
    for lsn in (1, 2):
        t.commit(
            "append",
            added=write_data_files(
                spark, generate_images(spark, 50, partitions=1), t.new_data_dir(),
                num_files=1,
            ),
            lsn=lsn,
        )
    gone, _ = t.data_entries()
    dv = write_delete_files(
        spark,
        local_frame(
            spark, {"file_path": [norm_path(gone.path)] * 3, "pos": [0, 1, 2]},
            "file_path string, pos long",
        ),
        t.new_delete_dir(),
    )
    t.commit("delete", added=dv)
    t.commit("overwrite", removed_paths={gone.path})
    before = content_hash(spark, t)
    assert before[1] == 50

    res = rewrite_manifests(spark, t)
    assert not res.skipped
    assert [e.record_count for e in t.delete_entries()] == []
    assert res.delete_files_after == 0
    assert content_hash(spark, t) == before


def test_cluster_drops_every_delete_file(spark, tmp_path):
    """``cluster`` rewrites every data file with every delete applied, so it
    drops every delete file of the snapshot: DVs, equality deletes and a
    zero-row DV file alike, with the content unchanged."""
    from moonlink_spark.table.format import EQ_DELETES

    t = create_table(str(tmp_path / "t"), IMAGES_SCHEMA)
    gen = CdcScheduleGenerator(seed=17)
    for sizes, mode in (
        ((200, 0, 0), "eager"), ((20, 40, 30), "eager"), ((0, 30, 20), "lazy")
    ):
        b = gen.next_batch(*sizes)
        merge_cdc_batch(spark, t, to_spark(spark, b), gen.commit_lsn, mode=mode)
    _zero_row_dv(spark, t)
    dels = [e for e in t.entries() if e.content != "data"]
    assert sorted((e.content, e.record_count > 0) for e in dels) == [
        ("deletes", False), ("deletes", True), (EQ_DELETES, True)
    ]
    before = content_hash(spark, t)

    res = cluster(spark, t, strategy="zorder", target_bytes=64 * 1024)
    assert res.metrics["removed_delete_files"] == len(dels)
    assert [e for e in t.entries() if e.content != "data"] == []
    assert content_hash(spark, t) == before


def test_expire_snapshots_gc(spark, loaded, tmp_path):
    import os

    t, _ = loaded
    before = content_hash(spark, t)
    compact(spark, t, mode=FULL, target_bytes=1 << 30)
    n_snaps = len(t.md.snapshots)
    assert n_snaps >= 5
    # retain 2: pre-compaction snapshot still pins the old files → no GC
    res = expire_snapshots(t, retain_last=2)
    assert res.expired_snapshots == n_snaps - 2
    assert res.deleted_data_files == 0
    assert len(t.md.snapshots) == 2
    # retained parent snapshot still byte-identical after expiry
    parent = t.md.snapshots[0].snapshot_id
    assert content_hash(spark, t, snapshot_id=parent) == before
    # retain 1: old files now unreferenced → physically GC'd
    res2 = expire_snapshots(t, retain_last=1)
    assert res2.deleted_data_files > 0
    assert content_hash(spark, t) == before
    # expired snapshot unreachable
    with pytest.raises(KeyError):
        t.md.snapshot_by_id(1)
    # all referenced files still exist
    for e in t.entries():
        assert os.path.exists(e.path)


def test_optimize_table_full_pipeline(spark, loaded):
    t, ref = loaded
    before = content_hash(spark, t)
    res = optimize_table(spark, t, mode="full")
    assert res.compact is not None and not res.compact.skipped
    assert res.expire is not None
    after = content_hash(spark, t)
    assert after == before
    assert after[1] == len(ref.rows)


def test_merge_after_maintenance(spark, loaded):
    """The engine keeps ingesting correctly after a full maintenance cycle."""
    t, ref = loaded
    optimize_table(spark, t, mode="full")
    gen2 = CdcScheduleGenerator(seed=7)
    # rebuild generator state by replaying (deterministic) — instead, new ids
    gen2.next_new = 10_000
    gen2.next_lsn = t.flush_lsn + 1
    b = gen2.next_batch(50, 0, 0)
    ref.apply(b)
    merge_cdc_batch(spark, t, to_spark(spark, b), gen2.commit_lsn)
    got = scan(spark, t).count()
    assert got == len(ref.rows)


def test_expire_age_guard_protects_young_snapshots(spark, loaded):
    """older_than_ms: snapshots younger than the cutoff survive even beyond
    retain_last; with a past cutoff, count-based retention applies alone."""
    t, _ = loaded
    n = len(t.md.snapshots)
    assert n >= 3
    # cutoff in the past => every snapshot is younger => all protected => skip
    res = expire_snapshots(t, retain_last=1, older_than_ms=0)
    assert res.skipped and len(t.md.snapshots) == n
    # cutoff in the far future => nothing protected by age; count rules
    res2 = expire_snapshots(t, retain_last=2, older_than_ms=2**62)
    assert res2.expired_snapshots == n - 2
    assert len(t.md.snapshots) == 2


def test_compact_batched_bins_single_job(spark, tmp_path, monkeypatch):
    """Bins beyond the threshold are rewritten by ONE Spark job (union of
    coalesce(1) branches + partitionBy bin id) — content identical, outputs
    bucket-pure, per-bin checkpoint lineage recorded post-hoc. This is the
    O(1)-driver-jobs path a 100 TB compaction (~200k bins) needs."""
    import os

    from moonlink_spark.checkpoint import JobCheckpoint
    from moonlink_spark.datagen import generate_images
    from moonlink_spark.operators import compact as compact_mod
    from moonlink_spark.table.bloom import BLOOM_STAT
    from moonlink_spark.table.writer import BUCKETS_PROP, write_bucketed_data_files

    B = 8
    t = create_table(
        str(tmp_path / "tb"), IMAGES_SCHEMA, properties={BUCKETS_PROP: str(B)}
    )
    entries = write_bucketed_data_files(
        spark, generate_images(spark, 1200, partitions=8), t.new_data_dir(),
        "image_id", B, max_records_per_file=60,  # many small files per bucket
    )
    t.commit("append", added=entries, lsn=1)
    before = content_hash(spark, t)
    base_snap = t.md.current_snapshot_id

    ckroot = str(tmp_path / "ck")
    monkeypatch.setattr(compact_mod, "_BATCH_BINS_THRESHOLD", 4)
    res = compact(
        spark, t, mode=FULL, target_bytes=1 << 30,  # one bin per bucket -> 8
        checkpoint_root=ckroot,
    )
    assert not res.skipped
    assert res.metrics["bins"] > 4
    assert res.metrics["bin_jobs"] == 1  # batched
    assert content_hash(spark, t) == before
    # outputs stay bucket-pure (MERGE pruning survives) and re-bloomed
    outs = t.data_entries()
    assert all(e.bucket is not None for e in outs)
    assert all(BLOOM_STAT in e.stats for e in outs)
    # per-bin lineage recorded post-hoc
    ck = JobCheckpoint(ckroot, f"compact-snap{base_snap}")
    steps = ck.all_metrics()
    bin_steps = [s for s in steps if s.startswith("bin-")]
    assert len(bin_steps) == res.metrics["bins"]
    # a resumed run reuses every completed bin (no recompute, same outputs)
    res2 = compact(
        spark, t, mode=FULL, target_bytes=1 << 30,
        checkpoint_root=ckroot,
    )
    assert content_hash(spark, t) == before


def test_rewrite_position_deletes(spark, tmp_path):
    """Consolidating DV files is content-neutral, shrinks the delete set to
    one file, drops dangling positions, and leaves later merges working;
    the changelog treats it as a replace commit (no row events)."""
    from moonlink_spark.cdc import CdcScheduleGenerator, to_spark
    from moonlink_spark.operators.compact import rewrite_position_deletes
    from moonlink_spark.operators.merge import merge_cdc_batch
    from moonlink_spark.schema import IMAGES_SCHEMA
    from moonlink_spark.table.catalog import create_table
    from moonlink_spark.table.changelog import scan_changes
    from moonlink_spark.table.scan import scan

    t = create_table(str(tmp_path / "rpd"), IMAGES_SCHEMA)
    gen = CdcScheduleGenerator(seed=61)
    for sizes in [(120, 0, 0), (0, 30, 15), (0, 20, 10), (0, 5, 8)]:
        merge_cdc_batch(spark, t, to_spark(spark, gen.next_batch(*sizes)), gen.commit_lsn)
    assert len(t.delete_entries()) == 3
    before = (
        scan(spark, t, columns=["image_id", "caption"]).toPandas()
        .sort_values("image_id").reset_index(drop=True)
    )
    res = rewrite_position_deletes(spark, t)
    assert not res.skipped and res.in_files == 3 and res.out_files == 1
    t.refresh()
    assert len(t.delete_entries()) == 1
    after = (
        scan(spark, t, columns=["image_id", "caption"]).toPandas()
        .sort_values("image_id").reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(before, after, check_dtype=False)
    # replace-type commit: the changelog window spanning it emits nothing
    lsn0 = t.flush_lsn
    assert scan_changes(spark, t, lsn0, lsn0 + 10, columns=["image_id"]).count() == 0
    # below min_files nothing rewrites (one consolidated file left)
    res2 = rewrite_position_deletes(spark, t)
    assert res2.skipped and res2.in_files == 1
    # a later merge still resolves deletes correctly
    b = gen.next_batch(0, 10, 5)
    merge_cdc_batch(spark, t, to_spark(spark, b), gen.commit_lsn)
    assert scan(spark, t.refresh()).count() == len(after) - 5
