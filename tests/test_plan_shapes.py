"""Physical-plan regressions: the properties that make the engine scale are
visible in the executed plan, so assert them — column pruning reaches the
parquet scan (ReadSchema), range predicates land as PushedFilters (row-group
pruning inside surviving files), scans stay inside WholeStageCodegen, and
the MERGE probe broadcasts the CDC key side instead of shuffling the table.
Reads (with DVs or equality deletes), DV writes and delete maintenance run
no Python worker, building a read launches no Spark job, empty reads and
planning over JSON manifests and DataSource partitioning launch none, and a
micro-MERGE's job count is pinned."""

import contextlib
import io
import os

from pyspark.sql import functions as F

from moonlink_spark.cdc import CdcScheduleGenerator, spec_to_spark, to_spark
from moonlink_spark.datagen import generate_images
from moonlink_spark.operators.compact import (
    FULL,
    compact,
    rewrite_equality_deletes,
    rewrite_position_deletes,
)
from moonlink_spark.operators.manifest_rewrite import rewrite_manifests
from moonlink_spark.operators.merge import merge_cdc_batch
from moonlink_spark.schema import IMAGES_SCHEMA
from moonlink_spark.table.catalog import create_table
from moonlink_spark.table.format import EQ_DELETES
from moonlink_spark.table.planning import plan_data_candidates, plannable
from moonlink_spark.table.scan import scan, scan_range, scan_values
from moonlink_spark.table.writer import (
    BUCKETS_PROP,
    write_bucketed_data_files,
    write_delete_files,
)


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _mk(spark, tmp_path, n=400):
    t = create_table(
        str(tmp_path / "t"), IMAGES_SCHEMA, properties={BUCKETS_PROP: "4"}
    )
    gen = CdcScheduleGenerator(seed=51)
    b = gen.next_batch(n, 0, 0)
    merge_cdc_batch(spark, t, to_spark(spark, b), gen.commit_lsn)
    return t, gen


def test_narrow_scan_prunes_read_schema(spark, tmp_path):
    t, _ = _mk(spark, tmp_path)
    plan = _plan(scan(spark, t, columns=["image_id"]))
    # the payload column (15 KiB/row at scale) must NOT reach the reader
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all("bytes" not in l for l in read), plan
    assert "image_id" in read[0]


def test_scan_range_pushes_predicates(spark, tmp_path):
    t, _ = _mk(spark, tmp_path)
    df = scan_range(spark, t, "image_id", "img000000000010", "img000000000050")
    plan = _plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any(
        "GreaterThanOrEqual" in l or "IsNotNull" in l for l in pushed
    ), plan


def test_scan_runs_in_wholestage_codegen(spark, tmp_path):
    t, _ = _mk(spark, tmp_path)
    # simple mode marks codegen stages with "*(n)"; formatted spells it out
    plan = _plan(scan(spark, t), mode="simple")
    assert "*(1)" in plan or "WholeStageCodegen" in plan, plan


def test_merge_probe_broadcasts_cdc_keys(spark, tmp_path):
    """A small CDC batch's probe is a BroadcastHashJoin with the batch on
    the build side — the table's payload never shuffles."""
    t, gen = _mk(spark, tmp_path)
    b = gen.next_batch(0, 20, 0)
    cdc = to_spark(spark, b)
    # reproduce the probe plan the MERGE builds (scan keys+pos ⋈ batch keys)
    probe = scan(spark, t, columns=["image_id"], with_pos=True)
    joined = probe.join(F.broadcast(cdc.select("image_id")), ["image_id"], "inner")
    plan = _plan(joined, mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_lazy_merge_scan_broadcasts_eq_keys(spark, tmp_path):
    """A scan over live equality-deletes anti-joins against a BROADCAST of
    the key set — the payload never shuffles for merge-on-read."""
    t, gen = _mk(spark, tmp_path)
    b = gen.next_batch(0, 30, 10)
    merge_cdc_batch(spark, t, to_spark(spark, b), gen.commit_lsn, mode="lazy")
    plan = _plan(scan(spark, t), mode="simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_changelog_reads_only_touched_files(spark, tmp_path):
    """scan_changes over one commit window plans a FileScan over the files
    that commit ADDED, not the whole table (O(files-touched), never
    O(table))."""
    from moonlink_spark.table.changelog import scan_changes

    t, gen = _mk(spark, tmp_path, n=300)
    pre_files = {e.path for e in t.refresh().data_entries()}
    lsn0 = t.flush_lsn
    b = gen.next_batch(20, 0, 0)
    merge_cdc_batch(spark, t, to_spark(spark, b), gen.commit_lsn)
    df = scan_changes(spark, t.refresh(), from_lsn=lsn0, to_lsn=t.flush_lsn)
    plan = _plan(df)
    # none of the pre-existing files appear in the read plan
    hit = [p for p in pre_files if os.path.basename(p) in plan]
    assert hit == [], hit


# ------------------------------------------- Python-free DV path, job counts

_PYTHON_NODES = (
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    # a `Scan ExistingRDD` is a frame built from a Python row list: pickled
    # rows that a Python worker decodes (session.local_frame avoids it)
    "ExistingRDD",
)


def _executed_plans(spark, action) -> list[str]:
    """Run ``action`` and return the final physical plan of every SQL
    execution it ran, as the session's SQL status store recorded them."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def ids():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return {execs.apply(i).executionId(): execs.apply(i) for i in range(execs.size())}

    before = ids().keys()
    action()
    return [
        e.physicalPlanDescription() for i, e in ids().items() if i not in before
    ]


def _assert_no_python(plans: list[str]) -> None:
    assert plans
    for plan in plans:
        hit = [n for n in _PYTHON_NODES if n in plan]
        assert not hit, plan


def _with_dvs(spark, tmp_path):
    t, gen = _mk(spark, tmp_path)
    merge_cdc_batch(spark, t, to_spark(spark, gen.next_batch(0, 30, 20)), gen.commit_lsn)
    t.refresh()
    assert t.delete_entries()
    return t, gen


def test_dv_scan_runs_no_python(spark, tmp_path):
    """A scan over deletion vectors expands them in the JVM: the anti-join
    is there, and no Python exec node is in any executed plan."""
    t, _ = _with_dvs(spark, tmp_path)
    df = scan(spark, t)
    plans = _executed_plans(spark, df.collect)
    assert any("LeftAnti" in p for p in plans), plans
    _assert_no_python(plans)


def test_dv_write_runs_no_python(spark, tmp_path):
    """Packing (file_path, pos) rows into v2c bitmaps runs in the JVM."""
    t, _ = _with_dvs(spark, tmp_path)
    dels = scan(spark, t, with_pos=True).limit(40).select(
        F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
    )
    out = str(tmp_path / "dv_out")
    plans = _executed_plans(spark, lambda: write_delete_files(spark, dels, out))
    assert any("HashAggregate" in p for p in plans)
    _assert_no_python(plans)


def _with_eq_deletes(spark, tmp_path):
    """The _mk table after one eager MERGE (deletion vectors) and one lazy
    MERGE (equality deletes)."""
    t, gen = _with_dvs(spark, tmp_path)
    _lazy_merge(spark, t, gen)
    return t, gen


def _lazy_merge(spark, t, gen):
    b = gen.next_batch(0, 30, 10)
    merge_cdc_batch(spark, t, to_spark(spark, b), gen.commit_lsn, mode="lazy")
    t.refresh()
    assert t.entries(content=EQ_DELETES)


def test_eq_delete_reads_run_no_python(spark, tmp_path):
    """Reads over equality deletes stamp each row with its data file's
    sequence number from a LocalRelation, not from pickled Python rows:
    scan, scan_values and scan_range run no Python worker."""
    t, _ = _with_eq_deletes(spark, tmp_path)
    ids = [f"img{i:012d}" for i in range(0, 400, 23)]
    for df in (
        scan(spark, t),
        scan_values(spark, t, "image_id", ids),
        scan_range(spark, t, "image_id", ids[0], ids[-1]),
    ):
        plans = _executed_plans(spark, df.collect)
        assert any("LeftAnti" in p for p in plans), plans
        _assert_no_python(plans)


def test_delete_maintenance_runs_no_pickled_rows(spark, tmp_path):
    """Compaction over equality deletes and DVs, both delete rewrites and a
    manifest rewrite with a delete sweep build their path sets as
    LocalRelations. Only ExistingRDD is asserted: bloom building keeps its
    mapInPandas."""
    t, gen = _with_eq_deletes(spark, tmp_path)
    steps = [
        lambda: rewrite_position_deletes(spark, t, min_files=1),
        lambda: rewrite_manifests(spark, t, min_manifests=1),
        lambda: compact(spark, t, mode=FULL, target_bytes=1 << 30),
        lambda: _lazy_merge(spark, t, gen),
        lambda: rewrite_equality_deletes(spark, t),
    ]
    for step in steps:
        out = []
        plans = _executed_plans(spark, lambda: out.append(step()))
        assert plans and not getattr(out[0], "skipped", False)
        hit = [p for p in plans if "ExistingRDD" in p]
        assert not hit, hit


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def _wide(spark, tmp_path, n=800):
    """A 16-bucket table of ``n`` images in files of at most 16 rows, key
    blooms attached — the compacted layout, past Spark's default
    32-path listing threshold."""
    t = create_table(
        str(tmp_path / "wide"), IMAGES_SCHEMA, properties={BUCKETS_PROP: "16"}
    )
    entries = write_bucketed_data_files(
        spark,
        generate_images(spark, n, partitions=4),
        t.new_data_dir(),
        "image_id",
        16,
        max_records_per_file=16,
        field_id_schema=t.schema,
    )
    t.commit("append", added=entries, lsn=1)
    gen = CdcScheduleGenerator(seed=5)
    gen.live = {i: 0 for i in range(n)}
    gen.next_new, gen.next_lsn = n, 2
    return t, gen


def _micro_merge(spark, t, gen) -> int:
    """One eager 128-row MERGE (64 updates, 32 inserts, 32 deletes); its
    Spark job count."""
    df = spec_to_spark(spark, gen.next_spec(32, 64, 32), partitions=4).cache()
    df.count()
    j0 = _jobs(spark)
    merge_cdc_batch(spark, t, df, gen.commit_lsn)
    n = _jobs(spark) - j0
    df.unpersist()
    return n


def test_building_reads_launches_no_jobs(spark, tmp_path):
    """Building scan()/scan_values() over many manifest-named files (with
    deletion vectors live) runs no Spark job: no listing job, no schema
    inference — the plan is assembled on the driver."""
    t, gen = _wide(spark, tmp_path)
    _micro_merge(spark, t, gen)
    t.refresh()
    assert len(t.data_entries()) >= 40 and t.delete_entries()
    j0 = _jobs(spark)
    scan(spark, t)
    scan(spark, t, columns=["image_id"], with_pos=True)
    scan_values(spark, t, "image_id", [f"img{i:012d}" for i in range(0, 800, 100)])
    assert _jobs(spark) == j0


def test_empty_reads_launch_no_jobs(spark, tmp_path):
    """A read over no files is a LocalRelation with the declared schema
    (scan columns plus __file/__pos when asked): no Spark job."""
    t, _ = _mk(spark, tmp_path)
    cols = [f.name for f in t.schema.fields]
    j0 = _jobs(spark)
    vals = scan_values(spark, t, "image_id", [])
    pos = scan(spark, t, data_entries=[], with_pos=True)
    assert vals.collect() == [] and pos.collect() == []
    assert _jobs(spark) == j0
    assert vals.schema.fieldNames() == cols
    assert pos.schema.fieldNames() == cols + ["__file", "__pos"]
    assert [f.dataType.simpleString() for f in pos.schema.fields[-2:]] == [
        "string",
        "bigint",
    ]


def test_json_manifest_planning_launches_no_jobs(spark, tmp_path):
    """Candidate planning over JSON manifests runs the driver executor."""
    t, _ = _wide(spark, tmp_path)
    assert not plannable(t)
    j0 = _jobs(spark)
    survivors, total = plan_data_candidates(
        spark, t, "image_id", "img000000000100", "img000000000300",
        batch_buckets={1, 5},
    )
    assert _jobs(spark) == j0
    assert 0 < len(survivors) < total


def test_datasource_planning_launches_no_jobs(spark, tmp_path):
    """DataSource planning — filter pushdown and input splits — prunes on
    the driver: no Spark job."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from moonlink_spark.datasource import MoonlinkBatchReader

    t, _ = _wide(spark, tmp_path)
    j0 = _jobs(spark)
    reader = MoonlinkBatchReader({"path": t.location})
    reader.pushFilters(
        [
            GreaterThanOrEqual(("image_id",), "img000000000100"),
            LessThan(("image_id",), "img000000000300"),
        ]
    )
    parts = reader.partitions()
    assert _jobs(spark) == j0
    files = [m.data_path for p in parts for m in (p.members or [p])]
    assert 0 < len(files) < len(t.data_entries())


# measured: 4 for the stats/bloom collect, 2 for the insert write, 4 for the
# probe and the DV pack/write; lower it as jobs go
_MICRO_MERGE_JOBS = 10


def test_micro_merge_job_count(spark, tmp_path):
    """A 128-row eager MERGE on a 16-bucket table stays within its pinned
    Spark job budget (probe, DV pack and write, insert write, stats)."""
    t, gen = _wide(spark, tmp_path)
    _micro_merge(spark, t, gen)  # first MERGE also creates the delete dir
    assert _micro_merge(spark, t, gen) <= _MICRO_MERGE_JOBS
