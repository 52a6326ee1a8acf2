"""Struct-leaf min/max bounds: footer fold, range pruning, planner parity.

Iceberg tracks lower/upper bounds per LEAF field; moonlink's stats fold
walks parquet leaves the same way (reference:
src/moonlink/src/storage/iceberg/parquet_stats_utils.rs:327-412). These
tests pin the engine's analog: struct leaves get dotted-path bounds usable
by scan_range on BOTH planning paths, while list internals stay unbounded.
"""

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from moonlink_spark.table.catalog import create_table
from moonlink_spark.table.format import MANIFEST_FORMAT_PROP
from moonlink_spark.table.planning import keep_entries, plan_data_candidates, plannable
from moonlink_spark.table.scan import scan_range
from moonlink_spark.table.writer import write_data_files

SCHEMA = StructType(
    [
        StructField("k", StringType(), False),
        StructField(
            "meta",
            StructType(
                [
                    StructField("a", IntegerType(), True),
                    # a struct field legitimately named like a map-internal
                    # parquet segment — must still get bounds
                    StructField("key", StringType(), True),
                ]
            ),
            True,
        ),
        StructField("tags", ArrayType(LongType()), True),
    ]
)

N = 400
LO, HI = 100, 120


def _mk(spark, tmp_path, fmt):
    t = create_table(
        str(tmp_path / f"t_{fmt}"),
        SCHEMA,
        properties={MANIFEST_FORMAT_PROP: fmt},
    )
    df = spark.range(N).select(
        F.format_string("k%05d", F.col("id")).alias("k"),
        F.struct(
            F.col("id").cast("int").alias("a"),
            F.format_string("s%03d", F.col("id") % 7).alias("key"),
        ).alias("meta"),
        F.array(F.col("id"), F.col("id") * 2).alias("tags"),
    )
    entries = write_data_files(
        spark, df, t.new_data_dir(), num_files=8, range_cols=[F.col("meta.a")]
    )
    t.commit("append", added=entries, lsn=1)
    return t, entries


def test_struct_leaf_bounds_collected(spark, tmp_path):
    _, entries = _mk(spark, tmp_path, "json")
    assert len(entries) == 8
    for e in entries:
        a = e.stats["meta.a"]
        assert isinstance(a["min"], int) and a["min"] <= a["max"]
        kb = e.stats["meta.key"]
        assert kb["min"].startswith("s") and kb["max"].startswith("s")
        # list internals carry no file-range meaning — never folded
        assert not any(k.startswith("tags") for k in e.stats)
    # range-clustered write => disjoint per-file [min,max] on the leaf
    ivs = sorted((e.stats["meta.a"]["min"], e.stats["meta.a"]["max"]) for e in entries)
    assert all(ivs[i][1] < ivs[i + 1][0] for i in range(len(ivs) - 1))


def _expected(lo=LO, hi=HI):
    return [f"k{i:05d}" for i in range(lo, hi + 1)]


def test_scan_range_on_struct_leaf_driver_path(spark, tmp_path):
    t, entries = _mk(spark, tmp_path, "json")
    assert not plannable(t)  # json manifests -> driver pruning
    kept = keep_entries(entries, {"meta.a": [(LO, HI)]})
    assert 0 < len(kept) < len(entries)
    got = scan_range(spark, t, "meta.a", LO, HI).select("k").toPandas()
    assert sorted(got["k"]) == _expected()


def test_scan_range_on_struct_leaf_distributed_path(spark, tmp_path):
    t, entries = _mk(spark, tmp_path, "parquet")
    assert plannable(t)
    survivors, total = plan_data_candidates(spark, t, "meta.a", LO, HI)
    assert total == len(entries)
    # distributed survivors == driver-side semantics, file for file
    driver_kept = {e.path for e in keep_entries(entries, {"meta.a": [(LO, HI)]})}
    assert {e.path for e in survivors} == driver_kept
    assert 0 < len(survivors) < total
    got = scan_range(spark, t, "meta.a", LO, HI).select("k").toPandas()
    assert sorted(got["k"]) == _expected()


def test_scan_range_struct_leaf_composite_with_top_level(spark, tmp_path):
    """Conjunction of a top-level and a struct-leaf range on one probe."""
    t, _ = _mk(spark, tmp_path, "parquet")
    got = (
        scan_range(spark, t, ["k", "meta.a"], ["k00000", 50], ["k00199", 60])
        .select("k")
        .toPandas()
    )
    assert sorted(got["k"]) == _expected(50, 60)
