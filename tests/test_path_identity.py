"""One data-file path rule at plain and ``file://`` locations.

Spark reports ``_metadata.file_path`` as ``file:/a`` and delete files record
the normalized ``/a``, while manifests keep a ``file://`` table's paths as
``file:///a``. Every site that compares a path read from a file against a
manifest path must normalize both sides (``table.format.norm_path``); this
test drives each such site on the same history at both locations.
"""

from __future__ import annotations

import ast
import os
import re

import pytest
from pyspark.sql import functions as F

from moonlink_spark.datasource import register
from moonlink_spark.operators import compact as compact_mod
from moonlink_spark.operators.compact import (
    FULL,
    _delete_counts,
    _live_bytes,
    compact,
    removable_delete_files,
    rewrite_position_deletes,
    select_candidates,
)
from moonlink_spark.operators.merge import merge_cdc_batch
from moonlink_spark.schema import IMAGES_SCHEMA
from moonlink_spark.table.bloom import BLOOM_STAT
from moonlink_spark.table.catalog import create_table
from moonlink_spark.table.format import MANIFEST_FORMAT_PROP, norm_path
from moonlink_spark.table.scan import scan
from moonlink_spark.table.writer import BUCKETS_PROP, write_bucketed_data_files

COLS = ["image_id", "caption", "phash"]


def _rows(spark, n, tag="a"):
    return spark.range(n).select(
        F.format_string("id%05d", F.col("id")).alias("image_id"),
        F.encode(F.format_string("b%d", F.col("id")), "utf-8").alias("bytes"),
        (F.col("id") % 100).cast("int").alias("w"),
        F.lit(16).cast("int").alias("h"),
        F.lit("png").alias("fmt"),
        F.format_string(tag + " %d", F.col("id")).alias("caption"),
        (F.col("id") % 50).cast("long").alias("phash"),
    )


def _cdc(spark, n, lo, hi, dlo, dhi, tag):
    """Upserts for ids [lo,hi), deletes for [dlo,dhi)."""
    u = _rows(spark, n, tag).filter(
        (F.col("image_id") >= f"id{lo:05d}") & (F.col("image_id") < f"id{hi:05d}")
    ).select(F.lit("U").alias("op"), F.lit(1).cast("long").alias("lsn"), "*")
    d = _rows(spark, n).filter(
        (F.col("image_id") >= f"id{dlo:05d}") & (F.col("image_id") < f"id{dhi:05d}")
    ).select(
        F.lit("D").alias("op"),
        F.lit(1).cast("long").alias("lsn"),
        "image_id",
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(None).cast("int").alias("w"),
        F.lit(None).cast("int").alias("h"),
        F.lit(None).cast("string").alias("fmt"),
        F.lit(None).cast("string").alias("caption"),
        F.lit(None).cast("long").alias("phash"),
    )
    return u.unionByName(d)


def _location(tmp_path, scheme: str, name: str) -> str:
    return f"file://{tmp_path}/{name}" if scheme == "file" else str(tmp_path / name)


def test_norm_path_rule():
    assert norm_path("file:/a/b.parquet") == "/a/b.parquet"
    assert norm_path("file:///a/b.parquet") == "/a/b.parquet"
    assert norm_path("/a/b.parquet") == "/a/b.parquet"
    assert norm_path("s3://bucket/a.parquet") == "s3://bucket/a.parquet"


@pytest.mark.parametrize("scheme", ["plain", "file"])
def test_delete_sites_match_manifest_paths(spark, tmp_path, monkeypatch, scheme):
    """A 4-bucket table with 600 rows and one eager MERGE (50 updates, 50
    deletes), then a second MERGE. Each assertion names a site that, with
    a raw manifest path, missed every match at ``file://``."""
    register(spark)
    t = create_table(
        _location(tmp_path, scheme, "t"),
        IMAGES_SCHEMA,
        properties={BUCKETS_PROP: "4", MANIFEST_FORMAT_PROP: "parquet"},
    )
    t.commit(
        "append",
        added=write_bucketed_data_files(
            spark, _rows(spark, 600), t.new_data_dir(), "image_id", 4
        ),
        lsn=1,
    )
    base = t.data_entries()
    assert len(base) == 4
    assert all(e.path.startswith("file:") == (scheme == "file") for e in base)
    merge_cdc_batch(spark, t, _cdc(spark, 600, 100, 150, 300, 350, "u1"), lsn=2)
    t.refresh()
    assert scan(spark, t).count() == 550

    # 1. the DataSource applies the DVs to the files they name
    ds = spark.read.format("moonlink").load(t.location)
    assert ds.count() == 550
    assert sorted(ds.select(*COLS).collect()) == sorted(
        scan(spark, t).select(*COLS).collect()
    )

    # 3. delete counts reach compaction selection
    dc = _delete_counts(spark, t)
    assert sum(dc.values()) == 100
    assert sorted(e.path for e in select_candidates(
        t, dc, mode=FULL, target_bytes=1, entries=base
    )) == sorted(e.path for e in base)
    assert all(_live_bytes(e, dc) < e.file_size_bytes for e in base)

    # 4. every bucketed file carries a key bloom (MERGE bloom pruning)
    assert all(BLOOM_STAT in e.stats for e in base)

    # 2. rewriting position deletes keeps every live position
    merge_cdc_batch(spark, t, _cdc(spark, 600, 400, 420, 500, 510, "u2"), lsn=3)
    t.refresh()
    want = sorted(scan(spark, t).select(*COLS).collect())
    assert len(want) == 540
    assert len(t.delete_entries()) == 2
    res = rewrite_position_deletes(spark, t)
    assert res.dropped_dangling_positions == 0
    assert sum(e.record_count for e in t.refresh().delete_entries()) == 130
    assert sorted(scan(spark, t).select(*COLS).collect()) == want

    # 5. a delete file whose data files are all removed is found, by the
    # driver fast path and by the Spark aggregate
    (dv,) = t.delete_entries()
    every = {e.path for e in t.data_entries()}
    assert removable_delete_files(spark, t, every) == {dv.path}
    monkeypatch.setattr(compact_mod, "_DRIVER_DELETE_SCAN_FILES", 0)
    assert removable_delete_files(spark, t, every) == {dv.path}
    monkeypatch.undo()
    compact(spark, t, mode=FULL)
    assert t.refresh().delete_entries() == []
    assert sorted(scan(spark, t).select(*COLS).collect()) == want


# --------------------------------------------------------------- static guard

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "moonlink_spark"
)
# opens a file by path (a local open of ``file:`` + rest); compares no paths
_EXEMPT_FUNCS = {"_open_footer"}


def _scheme_strips(tree) -> list[str]:
    """Functions that strip a ``file:`` prefix by hand (``len("file:...")``)."""
    out = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if fn.name in _EXEMPT_FUNCS:
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "len"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and str(node.args[0].value).startswith("file:")
            ):
                out.append(fn.name)
    return out


def test_one_path_rule_in_the_package():
    """The ``file:/+`` rule is written once (table/format.py): no other
    module carries the regex, defines a ``_norm``/``_strip_scheme`` copy,
    or strips the scheme by hand."""
    literal = re.compile(r"file:/\+")
    offenders = []
    for root, _, files in os.walk(_PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, _PKG)
            src = open(path).read()
            if rel != os.path.join("table", "format.py") and literal.search(src):
                offenders.append(f"{rel}: file:/+ literal")
            tree = ast.parse(src)
            for node in ast.walk(tree):
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef)
                ) and node.name in ("_norm", "_strip_scheme"):
                    offenders.append(f"{rel}: defines {node.name}")
            offenders += [f"{rel}: {f} strips file: by hand" for f in _scheme_strips(tree)]
    assert not offenders, offenders
