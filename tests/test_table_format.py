import os

import pytest
from pyspark.sql import functions as F

from moonlink_spark.datagen import generate_images
from moonlink_spark.schema import IMAGES_SCHEMA
from moonlink_spark.table.catalog import CommitConflict, create_table, load_table
from moonlink_spark.table.format import DELETES, FileEntry
from moonlink_spark.table.planning import keep_entries
from moonlink_spark.table.scan import scan, scan_at_lsn
from moonlink_spark.table.writer import write_data_files, write_delete_files


@pytest.fixture()
def table(tmp_path):
    return create_table(str(tmp_path / "t"), IMAGES_SCHEMA)


def _append_images(spark, table, n, lsn, **kw):
    df = generate_images(spark, n, partitions=4)
    entries = write_data_files(spark, df, table.new_data_dir(), **kw)
    table.commit("append", added=entries, lsn=lsn)
    return entries


def test_create_load_roundtrip(tmp_path):
    t = create_table(str(tmp_path / "t"), IMAGES_SCHEMA, {"k": "v"})
    t2 = load_table(str(tmp_path / "t"))
    # create_table stamps parquet field ids (fieldids.py): same names/types,
    # plus an id on every field
    from moonlink_spark.table.fieldids import has_field_ids, strip_field_ids

    assert strip_field_ids(t2.schema) == IMAGES_SCHEMA
    assert has_field_ids(t2.schema)
    assert t2.md.properties["k"] == "v"
    assert t2.md.current_snapshot_id is None


def test_append_scan(spark, table):
    entries = _append_images(spark, table, 200, lsn=10)
    assert sum(e.record_count for e in entries) == 200
    df = scan(spark, table)
    assert df.count() == 200
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in IMAGES_SCHEMA.fields
    ]
    # stats collected for scalar columns, not binary
    st = entries[0].stats
    assert "image_id" in st and st["image_id"]["min"].startswith("img")
    assert "bytes" not in st or st["bytes"].get("min") is None


def test_positional_deletes(spark, table):
    _append_images(spark, table, 100, lsn=10)
    # delete rows at positions where image_id ends in 0-4 of one file
    live = scan(spark, table, with_pos=True)
    to_del = live.filter(F.col("image_id") < "img000000000010").select(
        F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
    )
    dentries = write_delete_files(spark, to_del, table.new_delete_dir())
    table.commit("delete", added=dentries, lsn=20)
    df = scan(spark, table)
    assert df.count() == 90
    assert df.filter(F.col("image_id") < "img000000000010").count() == 0
    # old snapshot still sees all 100 (snapshot isolation)
    first = table.md.snapshots[0].snapshot_id
    assert scan(spark, table, snapshot_id=first).count() == 100


def test_dv_bitmap_compression_and_roundtrip(spark, table):
    """DV v2: delete files are bitmap-per-data-file, >=10x smaller than the
    row-per-position representation at a 25% delete ratio, with identical
    scan semantics (deletion_vector.rs:16-98 parity)."""
    from moonlink_spark.table.dv import DV2, is_dv2, read_delete_positions

    _append_images(spark, table, 2000, lsn=10)
    live = scan(spark, table, with_pos=True)
    to_del = live.filter(F.pmod(F.col("phash"), F.lit(4)) == 0).select(
        F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
    )
    n_del = to_del.count()
    assert n_del > 200  # ~25% of rows
    dentries = write_delete_files(spark, to_del, table.new_delete_dir())
    table.commit("delete", added=dentries, lsn=20)

    assert all(is_dv2(e) for e in dentries)
    # record_count carries the deleted-position cardinality
    assert sum(e.record_count for e in dentries) == n_del
    # the stored representation is ≤1 bit-payload byte per ~8 deleted
    # positions + slack for sparse tails + a fixed 8B magic/crc frame per
    # referenced data file (v2c) — vs ≥8B (pos) + path per row in v1.
    # (End-to-end FILE byte ratio is asserted at bench scale, where parquet
    # per-file fixed overhead stops dominating.)
    agg = (
        spark.read.parquet(*[e.path for e in dentries])
        .agg(F.sum(F.length("bitmap")).alias("b"), F.count("*").alias("nf"))
        .collect()[0]
    )
    assert agg["b"] < n_del + 8 * agg["nf"], (
        f"bitmap payload {agg['b']}B for {n_del} positions over {agg['nf']} files"
    )
    # expansion round-trips exactly
    got = read_delete_positions(spark, dentries)
    assert got.count() == n_del
    assert scan(spark, table).count() == 2000 - n_del


def test_scan_at_lsn(spark, table):
    _append_images(spark, table, 50, lsn=10)
    _append_images(spark, table, 50, lsn=20)
    assert scan_at_lsn(spark, table, 10).count() == 50
    assert scan_at_lsn(spark, table, 25).count() == 100
    with pytest.raises(KeyError):
        table.snapshot_at_lsn(5)


def test_lsn_monotonicity_enforced(spark, table):
    _append_images(spark, table, 10, lsn=10)
    with pytest.raises(ValueError):
        table.commit("append", added=[], lsn=5)


def test_cas_conflict(spark, table):
    stale = load_table(table.location)
    _append_images(spark, table, 10, lsn=10)
    with pytest.raises(CommitConflict):
        stale.commit("append", added=[], lsn=11)


def test_prune_entries():
    e1 = FileEntry("data", "/a", 1, 1, 1, {"image_id": {"min": "img0", "max": "img4"}})
    e2 = FileEntry("data", "/b", 1, 1, 1, {"image_id": {"min": "img5", "max": "img9"}})
    e3 = FileEntry("data", "/c", 1, 1, 1, {})  # no stats → kept
    kept = keep_entries([e1, e2, e3], {"image_id": [("img6", "img7")]})
    assert [e.path for e in kept] == ["/b", "/c"]


def test_empty_scan(spark, table):
    assert scan(spark, table).count() == 0
    assert scan(spark, table, with_pos=True).columns[-2:] == ["__file", "__pos"]
