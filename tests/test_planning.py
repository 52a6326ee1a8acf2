"""Parquet manifests + distributed scan planning (metadata-as-data)."""

import ast
import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import moonlink_spark.table.format as fmt_mod
from moonlink_spark.cdc import CdcScheduleGenerator, ReferenceTable, to_spark
from moonlink_spark.operators.maintenance import optimize_table
from moonlink_spark.operators.merge import merge_cdc_batch
from moonlink_spark.schema import IMAGES_SCHEMA
from moonlink_spark.table.catalog import create_table
from moonlink_spark.table.format import MANIFEST_FORMAT_PROP, FileEntry, read_manifest
from moonlink_spark.table.planning import (
    keep_entries,
    plan_data_candidates,
    plannable,
)
from moonlink_spark.table.scan import scan
from moonlink_spark.table.writer import BUCKETS_PROP


@pytest.fixture()
def ptable(tmp_path):
    """Bucketed table whose manifests are parquet from the first commit."""
    return create_table(
        str(tmp_path / "pt"),
        IMAGES_SCHEMA,
        properties={MANIFEST_FORMAT_PROP: "parquet", BUCKETS_PROP: "4"},
    )


def _load(spark, table, seed=11, batches=((200, 0, 0), (40, 60, 30))):
    gen = CdcScheduleGenerator(seed=seed)
    ref = ReferenceTable()
    for sizes in batches:
        b = gen.next_batch(*sizes)
        ref.apply(b)
        merge_cdc_batch(spark, table, to_spark(spark, b), gen.commit_lsn)
    return gen, ref


def test_parquet_manifest_lifecycle(spark, ptable):
    """merge -> maintenance -> scan with parquet manifests end-to-end."""
    gen, ref = _load(spark, ptable)
    snap = ptable.md.current_snapshot()
    assert all(m.endswith(".parquet") for m in snap.manifests)
    optimize_table(spark, ptable, mode="full")
    snap = ptable.md.current_snapshot()
    assert all(m.endswith(".parquet") for m in snap.manifests)
    got = (
        scan(spark, ptable)
        .select("image_id", "caption")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    exp = ref.to_pandas()[["image_id", "caption"]].reset_index(drop=True)
    assert got.equals(exp)


def test_parquet_manifest_roundtrip_preserves_stats(spark, ptable):
    _load(spark, ptable)
    entries = ptable.data_entries()
    assert entries
    for e in entries:
        # stats dicts survive the JSON-string column round trip exactly
        assert isinstance(e.stats, dict)
        assert "image_id" in e.stats, e.stats
        assert e.stats["image_id"]["min"] <= e.stats["image_id"]["max"]


def test_plan_distributed_matches_driver_prune(spark, ptable):
    _load(spark, ptable)
    optimize_table(spark, ptable, mode="full")  # bucketize -> bucket-pure files
    all_data = ptable.data_entries()
    assert any(e.bucket is not None for e in all_data)
    lo, hi = "img-0001", "img-0400"
    buckets = {0, 2}
    assert plannable(ptable)
    planned, total = plan_data_candidates(
        spark, ptable, "image_id", lo, hi, batch_buckets=buckets
    )
    assert total == len(all_data)
    drv = keep_entries(all_data, {"image_id": [(lo, hi)]}, buckets)
    assert sorted(e.path for e in planned) == sorted(e.path for e in drv)
    # full entry fidelity, not just paths (bloom refs ride in stats)
    by_path = {e.path: e for e in drv}
    for p in planned:
        d = by_path[p.path]
        assert (p.record_count, p.file_size_bytes, p.bucket, p.stats) == (
            d.record_count,
            d.file_size_bytes,
            d.bucket,
            d.stats,
        )


def test_merge_uses_distributed_planning(spark, ptable):
    """End-to-end MERGE correctness with the distributed planner engaged."""
    gen, ref = _load(spark, ptable)
    optimize_table(spark, ptable, mode="full")
    assert plannable(ptable)
    b = gen.next_batch(20, 30, 10)
    ref.apply(b)
    res = merge_cdc_batch(spark, ptable, to_spark(spark, b), gen.commit_lsn)
    assert res.metrics["total_data_files"] == len(ptable.data_entries(
        ptable.md.current_snapshot().parent_id
    ))
    got = (
        scan(spark, ptable)
        .select("image_id", "caption")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    exp = ref.to_pandas()[["image_id", "caption"]].reset_index(drop=True)
    assert got.equals(exp)


def test_json_table_not_plannable_but_merge_still_works(spark, tmp_path):
    t = create_table(str(tmp_path / "jt"), IMAGES_SCHEMA)
    gen, ref = _load(spark, t)
    assert not plannable(t)  # json manifests -> driver-side pruning
    snap = t.md.current_snapshot()
    assert all(m.endswith(".json") for m in snap.manifests)


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """A 4-bucket table of 400 images in bucketed files of at most 25 rows,
    then two eager MERGEs (deletion vectors, unbucketed inserts) and one
    lazy MERGE (an equality-delete file)."""
    from moonlink_spark.datagen import generate_images
    from moonlink_spark.table.writer import write_bucketed_data_files

    t = create_table(
        str(tmp_path_factory.mktemp("history") / "src"),
        IMAGES_SCHEMA,
        properties={BUCKETS_PROP: "4"},
    )
    t.commit(
        "append",
        added=write_bucketed_data_files(
            spark, generate_images(spark, 400, partitions=4), t.new_data_dir(),
            "image_id", 4, max_records_per_file=25,
        ),
        lsn=1,
    )
    gen = CdcScheduleGenerator(seed=23)
    gen.live = {i: 0 for i in range(400)}
    gen.next_new, gen.next_lsn = 400, 2
    for sizes, mode in (
        ((20, 60, 40), "eager"), ((10, 30, 20), "eager"), ((0, 20, 10), "lazy")
    ):
        b = gen.next_batch(*sizes)
        merge_cdc_batch(spark, t, to_spark(spark, b), gen.commit_lsn, mode=mode)
    return t


def _replay(src, location: str, manifest_format: str):
    """A new table holding ``src``'s history commit for commit: the same
    files, so the same paths and sequence numbers, in ``manifest_format``
    manifests."""
    t = create_table(
        location,
        IMAGES_SCHEMA,
        properties={BUCKETS_PROP: "4", MANIFEST_FORMAT_PROP: manifest_format},
    )
    prev: dict = {}
    for snap in src.md.snapshots:
        cur = {e.path: e for e in src.entries(snap.snapshot_id)}
        t.commit(
            snap.summary["operation"],
            added=[e for p, e in cur.items() if p not in prev],
            removed_paths=set(prev) - set(cur),
            lsn=snap.summary.get("lsn"),
        )
        prev = cur
    return t


_KEY_LO, _KEY_HI = "img000000000100", "img000000000250"


@pytest.mark.parametrize(
    "kw",
    [
        dict(mode="best_effort", min_files=4, max_files=6),
        dict(mode="force_regular", max_files=9),
        dict(mode="full"),
        dict(mode="full", scope_key="image_id", scope_lo=_KEY_LO, scope_hi=_KEY_HI),
        dict(mode="force_regular", scope_buckets={0, 2}),
    ],
    ids=["best_effort", "force_regular", "full", "scoped_range", "scoped_buckets"],
)
def test_compaction_selection_ignores_manifest_format(
    spark, history, tmp_path, monkeypatch, kw
):
    """One history committed into a JSON-manifest and a parquet-manifest
    table: ``compact()`` makes one selection call, selects the same files in
    the same order, leaves the same content, and launches the same number of
    Spark jobs outside the candidate planner (scoped pruning runs as a Spark
    job over parquet manifests only)."""
    from moonlink_spark.operators import compact as compact_mod
    from moonlink_spark.table import planning

    selections, planner_jobs = [], [0]
    select = compact_mod.select_candidates

    def recorded_select(*a, **k):
        selections.append(select(*a, **k))
        return selections[-1]

    monkeypatch.setattr(compact_mod, "select_candidates", recorded_select)
    plan = planning.plan_data_candidates

    def counted_plan(*a, **k):
        j0 = _jobs(spark)
        try:
            return plan(*a, **k)
        finally:
            planner_jobs[0] += _jobs(spark) - j0

    monkeypatch.setattr(planning, "plan_data_candidates", counted_plan)

    want = _content_hash(spark, history)
    runs = []
    for fmt in ("json", "parquet"):
        t = _replay(history, str(tmp_path / fmt), fmt)
        assert plannable(t) == (fmt == "parquet")
        assert [(e.path, e.sequence_number) for e in t.entries()] == [
            (e.path, e.sequence_number) for e in history.entries()
        ]
        del selections[:]
        planner_jobs[0] = 0
        j0 = _jobs(spark)
        res = compact_mod.compact(spark, t, target_bytes=1 << 30, **kw)
        jobs = _jobs(spark) - j0 - planner_jobs[0]
        assert not res.skipped
        assert _content_hash(spark, t) == want
        runs.append(dict(
            jobs=jobs,
            selections=[[e.path for e in sel] for sel in selections],
            removed_delete_files=res.removed_delete_files,
        ))
    (js, pq) = runs
    assert js["jobs"] == pq["jobs"]
    assert len(js["selections"]) == 1
    assert js == pq


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def _content_hash(spark, table):
    h = F.xxhash64(*IMAGES_SCHEMA.fieldNames()).cast("decimal(38,0)")
    return tuple(scan(spark, table).agg(F.sum(h), F.count("*")).first())


# manifests are read as a Spark dataset only by the candidate planner and by
# the ``inspect`` metadata tables
_MANIFEST_READERS = {
    os.path.join("table", "planning.py"),
    os.path.join("table", "inspect.py"),
}


def test_manifests_read_by_spark_only_in_planner_and_inspect():
    """Static guard: outside ``table/planning.py`` and ``table/inspect.py``
    no function both calls ``<session>.read[...].parquet(...)`` and touches
    a snapshot's ``manifests``. Compaction selects on the driver, over the
    entry list its commit reads anyway."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "moonlink_spark"
    )
    offenders = []
    for root, _, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg)
            if rel in _MANIFEST_READERS:
                continue
            for fn in ast.walk(ast.parse(open(path).read())):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                nodes = list(ast.walk(fn))
                reads = any(
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "parquet"
                    and "read" in ast.unparse(n.func.value)
                    for n in nodes
                )
                touches = any(
                    isinstance(n, ast.Attribute) and n.attr == "manifests"
                    for n in nodes
                )
                if reads and touches:
                    offenders.append(f"{rel}:{fn.lineno} {fn.name}")
    assert not offenders, offenders


def test_scan_range_distributed_and_driver_agree(spark, ptable, tmp_path):
    """scan_range returns identical rows through the distributed planner
    (parquet manifests) and the driver-side prune (json manifests), and
    matches a plain scan + filter."""
    from moonlink_spark.table.scan import scan_range

    gen, ref = _load(spark, ptable)
    jt = create_table(str(tmp_path / "jt2"), IMAGES_SCHEMA)
    _load(spark, jt)  # same seed -> identical content
    lo, hi = "img000000000050", "img000000000150"

    exp = (
        scan(spark, ptable)
        .filter((F.col("image_id") >= lo) & (F.col("image_id") <= hi))
        .select("image_id", "caption")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert len(exp) > 0
    for t in (ptable, jt):
        got = (
            scan_range(spark, t, "image_id", lo, hi)
            .select("image_id", "caption")
            .toPandas()
            .sort_values("image_id")
            .reset_index(drop=True)
        )
        assert got.equals(exp), t.md.properties


def test_auto_upgrade_to_parquet_above_threshold(tmp_path, monkeypatch):
    """A JSON-format table still writes parquet manifests past the entry
    count where a single JSON document becomes a driver hazard."""
    monkeypatch.setattr(fmt_mod, "PARQUET_MANIFEST_AUTO_MIN", 3)
    from moonlink_spark.table.format import FileEntry, write_manifest

    entries = [
        FileEntry("data", f"/x/f{i}.parquet", 10, 100, 1, stats={"image_id": {"min": "a", "max": "b", "nulls": 0}})
        for i in range(5)
    ]
    p = write_manifest(str(tmp_path), 1, entries)
    assert p.endswith(".parquet")
    back = read_manifest(p)
    assert [e.to_dict() for e in back] == [e.to_dict() for e in entries]


# ------------------------------------------- executor parity (property test)

_PROP_SCHEMA = StructType(
    [
        StructField("k", StringType(), True),
        StructField("n", LongType(), True),
        StructField("meta", StructType([StructField("a", IntegerType(), True)])),
    ]
)
_PROP_KINDS = {"k": "str", "n": "int", "meta.a": "int"}


def _rand_value(rng, kind):
    if kind == "int":
        return rng.randrange(-20, 100)
    return "".join(rng.choice("abcde") for _ in range(rng.randint(1, 3)))


def _rand_stat(rng, kind):
    """A column's manifest stats: bounded, or with a missing/None end, or
    (int columns) a bound that does not compare with the filter values."""
    r = rng.random()
    lo, hi = sorted(_rand_value(rng, kind) for _ in range(2))
    st = {"min": lo, "max": hi, "nulls": 0}
    if r < 0.1:
        st["min"] = None
    elif r < 0.2:
        st["max"] = None
    elif r < 0.25:
        del st["min"]
    elif r < 0.3 and kind == "int":
        st["min"], st["max"] = "x", "y"
    return st


def _rand_entries(rng, i):
    out = []
    for j in range(rng.randint(1, 12)):
        stats = {
            c: _rand_stat(rng, kind)
            for c, kind in _PROP_KINDS.items()
            if rng.random() < 0.85
        }
        out.append(
            FileEntry(
                "data",
                f"/prop/{i}/f{j}.parquet",
                rng.randint(1, 1000),
                rng.randint(1, 1 << 20),
                1,
                stats=stats,
                bucket=rng.choice([None, None, 0, 1, 2, 3]),
            )
        )
    return out


def _rand_intervals(rng):
    out = {}
    for c in rng.sample(sorted(_PROP_KINDS), rng.randint(0, 3)):
        ivs = []
        for _ in range(rng.randint(1, 3)):
            lo, hi = sorted(_rand_value(rng, _PROP_KINDS[c]) for _ in range(2))
            ivs.append(
                (None if rng.random() < 0.2 else lo, None if rng.random() < 0.2 else hi)
            )
        out[c] = ivs
    return out


def _rand_buckets(rng):
    r = rng.random()
    if r < 0.3:
        return None
    if r < 0.4:
        return set()
    return set(rng.sample(range(4), rng.randint(1, 3)))


def test_executors_agree_on_random_manifests(spark, tmp_path):
    """The distributed executor (parquet manifests) and the driver executor
    (JSON manifests) keep the same files, with identical entries, on 200
    seeded random entry sets: int and string stats, missing or None bounds,
    incomparable bounds, open-ended intervals, multi-interval unions, and
    bucket sets over files that include un-bucketed ones."""
    from moonlink_spark.table.planning import _plan

    rng = random.Random(20240611)
    kept = pruned = 0
    for i in range(200):
        entries = _rand_entries(rng, i)
        intervals, buckets = _rand_intervals(rng), _rand_buckets(rng)
        results = []
        for fmt in ("json", "parquet"):
            t = create_table(
                str(tmp_path / f"{fmt}{i}"),
                _PROP_SCHEMA,
                properties={MANIFEST_FORMAT_PROP: fmt},
            )
            t.commit("append", added=entries, lsn=1)
            assert plannable(t) == (fmt == "parquet")
            survivors, total = _plan(spark, t, intervals, buckets, None)
            assert total == len(entries)
            results.append(sorted((e.to_dict() for e in survivors), key=lambda d: d["path"]))
        drv, dist = results
        case = (entries, intervals, buckets)
        assert [d["path"] for d in dist] == [d["path"] for d in drv], case
        assert dist == drv, case
        want = keep_entries(entries, intervals, buckets)
        assert [d["path"] for d in drv] == sorted(e.path for e in want), case
        kept += len(drv)
        pruned += len(entries) - len(drv)
    assert kept > 200 and pruned > 200, (kept, pruned)
