"""Per-session delete-side read state (table/scan.py).

A read keeps the delete-side relations it builds — one DV frame per DV file
list, one equality-delete relation per sequence group — in an LRU owned by
the session, so a second read of the same snapshot opens no delete file and
a lazy MERGE costs the next read one new relation. The cache holds plans,
not rows: every read still reads the files, so results follow the table
through maintenance and a corrupt DV fails every read.
"""

from __future__ import annotations

import ast
import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameReader

from moonlink_spark.cdc import CdcScheduleGenerator, ReferenceTable, to_spark
from moonlink_spark.operators.compact import FULL, compact, rewrite_position_deletes
from moonlink_spark.operators.expire import expire_snapshots
from moonlink_spark.operators.merge import merge_cdc_batch
from moonlink_spark.schema import IMAGES_SCHEMA
from moonlink_spark.table import scan as scan_mod
from moonlink_spark.table.catalog import create_table
from moonlink_spark.table.format import DATA, DELETES, EQ_DELETES, FileEntry
from moonlink_spark.table.scan import scan, scan_range, scan_values

_LO, _HI = "img000000000050", "img000000000150"
_KEYS = [f"img{i:012d}" for i in range(0, 400, 23)]


def _history(spark, path, seed=31, lazy=1):
    """300 inserts, one eager MERGE of updates and deletes (a DV file),
    then ``lazy`` lazy MERGEs (one equality-delete file each)."""
    t = create_table(path, IMAGES_SCHEMA)
    gen, ref = CdcScheduleGenerator(seed=seed), ReferenceTable()
    steps = [((300, 0, 0), "eager"), ((20, 40, 30), "eager")]
    steps += [((10, 30, 20), "lazy")] * lazy
    for sizes, mode in steps:
        _merge(spark, t, gen, ref, sizes, mode)
    return t, gen, ref


def _merge(spark, t, gen, ref, sizes, mode):
    b = gen.next_batch(*sizes)
    ref.apply(b)
    merge_cdc_batch(spark, t, to_spark(spark, b), gen.commit_lsn, mode=mode)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select("image_id", "caption").collect())


def _want(ref, keep=lambda k: True) -> list[tuple]:
    return sorted((k, r["caption"]) for k, r in ref.rows.items() if keep(k))


def _reads(spark, t):
    """The three read shapes, each with the rows the reference expects."""
    return [
        (lambda: scan(spark, t), lambda k: True),
        (lambda: scan_values(spark, t, "image_id", _KEYS), lambda k: k in _KEYS),
        (lambda: scan_range(spark, t, "image_id", _LO, _HI), lambda k: _LO <= k <= _HI),
    ]


def _check(spark, t, ref):
    for read, keep in _reads(spark, t):
        assert _rows(read()) == _want(ref, keep)


@pytest.fixture()
def opened(monkeypatch):
    """Every path list handed to ``DataFrameReader.parquet``, in call order."""
    calls: list[list[str]] = []
    parquet = DataFrameReader.parquet

    def recorded(self, *paths, **kw):
        calls.append(list(paths))
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", recorded)
    return calls


def _delete_paths(t) -> set[str]:
    return {e.path for e in t.entries() if e.content != DATA}


def test_second_read_opens_no_delete_file(spark, tmp_path, opened):
    """The first round of reads opens each delete file once; a second
    ``scan``/``scan_values``/``scan_range`` of the same snapshot opens none
    and returns the same rows."""
    t, _, ref = _history(spark, str(tmp_path / "t"), lazy=2)
    dels = _delete_paths(t)
    assert {e.content for e in t.entries() if e.path in dels} == {DELETES, EQ_DELETES}
    del opened[:]
    _check(spark, t, ref)
    first = sorted(p for call in opened for p in call if p in dels)
    assert first == sorted(dels)
    del opened[:]
    _check(spark, t, ref)
    assert [p for call in opened for p in call if p in dels] == []


def test_lazy_merge_builds_one_new_relation(spark, tmp_path, opened):
    """After a lazy MERGE the next read opens one delete-side relation: the
    new equality-delete file's sequence group. The DV frame and the older
    groups are reused."""
    t, gen, ref = _history(spark, str(tmp_path / "t"))
    _check(spark, t, ref)
    old = _delete_paths(t)
    _merge(spark, t, gen, ref, (5, 25, 15), "lazy")
    new = _delete_paths(t) - old
    assert len(new) == 1
    assert {e.content for e in t.entries() if e.path in new} == {EQ_DELETES}
    del opened[:]
    assert _rows(scan(spark, t)) == _want(ref)
    assert [call for call in opened if set(call) & (old | new)] == [sorted(new)]


def test_interleaved_history_matches_reference(spark, tmp_path):
    """One session through eager and lazy MERGEs, ``rewrite_position_deletes``,
    ``compact("full")`` and ``expire_snapshots``: every read shape, built
    fresh and then from the cache, matches the reference after every
    step."""
    t = create_table(str(tmp_path / "t"), IMAGES_SCHEMA)
    gen, ref = CdcScheduleGenerator(seed=37), ReferenceTable()
    steps = [
        lambda: _merge(spark, t, gen, ref, (300, 0, 0), "eager"),
        lambda: _merge(spark, t, gen, ref, (20, 40, 30), "eager"),
        lambda: _merge(spark, t, gen, ref, (10, 30, 20), "lazy"),
        lambda: _merge(spark, t, gen, ref, (10, 30, 20), "eager"),
        lambda: rewrite_position_deletes(spark, t),
        lambda: _merge(spark, t, gen, ref, (0, 30, 20), "lazy"),
        lambda: compact(spark, t, mode=FULL, target_bytes=1 << 30),
        lambda: expire_snapshots(t, retain_last=1),
        lambda: _merge(spark, t, gen, ref, (10, 30, 20), "lazy"),
        lambda: _merge(spark, t, gen, ref, (10, 30, 20), "eager"),
    ]
    for i, step in enumerate(steps):
        step()
        if i == 4:
            assert len(t.delete_entries()) == 1
        _check(spark, t, ref)
        _check(spark, t, ref)


def test_read_state_stays_at_its_bound(spark, tmp_path, monkeypatch):
    """More distinct delete sets than the bound: the session keeps exactly
    the bound, and reads after eviction rebuild and stay correct."""
    monkeypatch.setattr(scan_mod, "_READ_STATE_MAX", 3)
    t, _, ref = _history(spark, str(tmp_path / "t"), lazy=4)
    # one DV frame and four equality-delete groups: five relations
    assert len(t.entries(content=EQ_DELETES)) == 4
    assert _rows(scan(spark, t)) == _want(ref)
    assert len(spark.__dict__[scan_mod._READ_STATE_ATTR]) == 3
    _check(spark, t, ref)
    assert len(spark.__dict__[scan_mod._READ_STATE_ATTR]) == 3


def test_concurrent_reads_are_correct(spark, tmp_path):
    """Four driver threads read a table none of them has read before (every
    read starts as a miss) and get the reference rows."""
    t, _, ref = _history(spark, str(tmp_path / "t"), lazy=2)
    jobs = _reads(spark, t) * 2
    with ThreadPoolExecutor(4) as ex:
        got = list(ex.map(lambda job: _rows(job[0]()), jobs))
    assert got == [_want(ref, keep) for _, keep in jobs]


def test_read_state_lru_under_thread_stress(monkeypatch):
    """Sixteen threads, a tiny switch interval and a bound of four over ten
    keys: every lookup returns its own key's value and the LRU never holds
    more than the bound (a lost update would break either)."""
    import sys
    import types

    monkeypatch.setattr(scan_mod, "_READ_STATE_MAX", 4)
    session = types.SimpleNamespace()

    def lookups(worker: int) -> bool:
        ok = True
        for i in range(300):
            key = ("k", (worker + i) % 10)
            ok &= scan_mod._read_state(session, key, lambda key=key: key) == key
            with scan_mod._read_state_lock:
                ok &= len(session.__dict__[scan_mod._READ_STATE_ATTR]) <= 4
        return ok

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as ex:
            futures = [ex.submit(lookups, w) for w in range(16)]
            assert all(f.result(timeout=60) for f in futures)
    finally:
        sys.setswitchinterval(interval)
    assert len(session.__dict__[scan_mod._READ_STATE_ATTR]) == 4


def test_corrupt_dv_fails_every_read(spark, tmp_path):
    """The cache holds plans, not rows: a DV whose crc does not hold fails
    the first read and the second, cached one alike."""
    t, _, _ = _history(spark, str(tmp_path / "t"), lazy=0)
    (dv,) = t.delete_entries()
    table = pq.read_table(dv.path)
    bitmaps = table["bitmap"].to_pylist()
    bitmaps[0] = bitmaps[0][:4] + bytes([bitmaps[0][4] ^ 0xFF]) + bitmaps[0][5:]
    bad = os.path.join(t.new_delete_dir(), "corrupt.parquet")
    col = table.schema.get_field_index("bitmap")
    pq.write_table(table.set_column(col, "bitmap", [bitmaps]), bad)
    t.commit(
        "delete",
        added=[FileEntry(DELETES, bad, dv.record_count, os.path.getsize(bad), 0, dict(dv.stats))],
        removed_paths={dv.path},
    )
    for _ in range(2):
        with pytest.raises(Exception, match="crc mismatch"):
            scan(spark, t).collect()


# --------------------------------------------------------------- static guard

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "moonlink_spark"
)

# the cached builders in table/scan.py: the data read (``read_files._read``),
# the DV frame and the equality-delete sequence-group relation
_READ_PATH_BUILDERS = {"_read", "delete_positions", "build"}

# maintenance and changelog readers build their own delete relations: each
# reads a delete set once per operator run
_EXEMPT_DV_READERS = {
    (os.path.join("operators", "compact.py"), "_delete_counts"),
    (os.path.join("operators", "compact.py"), "_repack_live_positions"),
    (os.path.join("table", "changelog.py"), "scan_changes"),
    (os.path.join("operators", "publish.py"), "_write_pos_deletes"),
}


def _calls_in_functions(tree):
    """(innermost enclosing function name, call name) for every call whose
    callee is ``read_delete_positions`` or a ``.parquet`` attribute."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if isinstance(child, ast.Call):
                f = child.func
                callee = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if callee in ("read_delete_positions", "parquet"):
                    out.append((name, callee))
            visit(child, name)

    visit(tree, None)
    return out


def _parse(rel):
    with open(os.path.join(_PKG, rel)) as f:
        return ast.parse(f.read())


def test_read_path_builds_delete_relations_only_through_the_cache():
    """``table/scan.py`` opens parquet only in its cached builders, and
    ``publish.read_published`` opens none itself; elsewhere a DV read
    (``read_delete_positions``) happens only in the maintenance readers
    exempt by name."""
    offenders = []
    scan_rel = os.path.join("table", "scan.py")
    for fn, callee in _calls_in_functions(_parse(scan_rel)):
        if fn not in _READ_PATH_BUILDERS or (callee == "read_delete_positions") != (
            fn == "delete_positions"
        ):
            offenders.append(f"{scan_rel}: {fn} calls {callee}")
    publish = _parse(os.path.join("operators", "publish.py"))
    (read_published,) = [
        n for n in publish.body
        if isinstance(n, ast.FunctionDef) and n.name == "read_published"
    ]
    offenders += [
        f"read_published: {fn} calls {callee}"
        for fn, callee in _calls_in_functions(read_published)
    ]
    for root, _, files in os.walk(_PKG):
        for name in files:
            rel = os.path.relpath(os.path.join(root, name), _PKG)
            if not name.endswith(".py") or rel == scan_rel:
                continue
            for fn, callee in _calls_in_functions(_parse(rel)):
                if callee == "read_delete_positions" and (rel, fn) not in _EXEMPT_DV_READERS:
                    offenders.append(f"{rel}: {fn} calls read_delete_positions")
    assert not offenders, offenders
