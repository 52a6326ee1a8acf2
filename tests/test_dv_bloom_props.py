"""Property tests for deletion vectors (table/dv.py) and per-file key
blooms (table/bloom.py).

Reference invariants: a DV bitmap must round-trip the exact deleted-position
set (deletion_vector.rs:16-98 blob semantics); a bloom probe must NEVER
false-negative (persisted_bucket_hash_map.rs probe: missing a present key
would lose a delete).

The DV pack and expand are Spark expressions, so each DV property runs over
a few hundred random position sets at once: one data-file path per set, one
Spark job per direction. The bloom kernels are pure numpy."""

import struct
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from moonlink_spark.table.bloom import (
    BLOOM_STAT,
    NUM_HASHES,
    _pack,
    bloom_may_contain_any,
    prune_by_bloom,
)
from moonlink_spark.table.dv import (
    DV2,
    DV2C,
    DV_FORMAT_STAT,
    DV_MAGIC,
    read_delete_positions,
)
from moonlink_spark.table.format import DELETES, FileEntry
from moonlink_spark.table.writer import write_delete_files


def _entry(stats=None) -> FileEntry:
    return FileEntry(
        content="data",
        path="/x.parquet",
        record_count=1,
        file_size_bytes=1,
        sequence_number=1,
        stats=stats or {},
    )


# --------------------------------------------------------------------- DV


def _reference_v2c(positions) -> bytes:
    """Independent numpy statement of the v2c frame: magic, then bit ``p``
    of a dense little-endian bitmap trimmed to the max position's byte,
    then crc32(bitmap) as 4 little-endian bytes."""
    pos = np.unique(np.asarray(positions, dtype=np.int64))
    bits = np.zeros((int(pos.max()) >> 3) + 1, dtype=np.uint8)
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    raw = bits.tobytes()
    return DV_MAGIC + raw + struct.pack("<I", zlib.crc32(raw) & 0xFFFFFFFF)


def _random_position_sets(n_sets: int, seed: int) -> dict[str, list[int]]:
    """Edge cases (first/last bit of a byte, of a 4 KiB bitmap bucket, of a
    56-bit expansion word; a 500 KB sparse bitmap; a 5,000-position dense
    run) plus random sets of
    varied span and density, some with duplicate positions."""
    rng = np.random.default_rng(seed)
    sets = {
        "edge/0": [0],
        "edge/7-8": [7, 8],
        "edge/word": [55, 56, 111, 112],
        "edge/bucket": [0, 32767, 32768, 65535],
        "edge/gap": [3, 200_000],
        "edge/far": [1, 4_000_000],
        "edge/dense": list(range(5000)),
    }
    for i in range(n_sets - len(sets)):
        span = int(rng.choice([8, 64, 5_000, 40_000, 200_000]))
        size = int(rng.integers(1, 500))
        sets[f"rand/{i}"] = rng.integers(0, span, size).tolist()
    return sets


@pytest.fixture(scope="module")
def dv_written(spark, tmp_path_factory):
    """The random sets written through ``write_delete_files`` (one Spark
    job packs all of them) → (sets, delete entries, stored bitmap per
    data-file path, stored card per data-file path)."""
    sets = _random_position_sets(240, seed=11)
    rows = [(fp, p) for fp, ps in sets.items() for p in ps]
    df = spark.createDataFrame(rows, "file_path string, pos long")
    entries = write_delete_files(
        spark, df, str(tmp_path_factory.mktemp("dv")), num_files=2
    )
    stored = pa.concat_tables([pq.read_table(e.path) for e in entries])
    bitmaps = dict(zip(stored["file_path"].to_pylist(), stored["bitmap"].to_pylist()))
    cards = dict(zip(stored["file_path"].to_pylist(), stored["card"].to_pylist()))
    return sets, entries, bitmaps, cards


def test_dv_bitmap_roundtrip(spark, dv_written):
    """Every set expands back to exactly its distinct positions, and the
    entry cardinality counts each position once."""
    sets, entries, _, cards = dv_written
    assert len(sets) >= 200
    assert all(e.stats[DV_FORMAT_STAT] == DV2C for e in entries)
    assert sum(e.record_count for e in entries) == sum(len(set(v)) for v in sets.values())
    got: dict[str, list[int]] = {}
    for r in read_delete_positions(spark, entries).collect():
        got.setdefault(r["file_path"], []).append(r["pos"])
    assert got.keys() == sets.keys()
    for fp, ps in sets.items():
        assert cards[fp] == len(set(ps)), fp
        assert sorted(got[fp]) == sorted(set(ps)), fp


def test_dv_bitmap_is_dense_prefix(dv_written):
    """Bitmap length is bounded by max position (dense from 0) plus the
    fixed v2c frame (4B magic + 4B crc) — never by cardinality: the
    100x-compression property at high delete ratios. The stored bytes equal
    the independent numpy reference frame exactly."""
    sets, _, bitmaps, _ = dv_written
    for fp, ps in sets.items():
        bm = bitmaps[fp]
        assert bm[:4] == DV_MAGIC
        assert len(bm) == 4 + ((max(ps) >> 3) + 1) + 4, fp
        assert bm == _reference_v2c(ps), fp


def _dv_file(tmp_path, name: str, fmt: str, rows: list[tuple[str, int, bytes]]):
    path = str(tmp_path / f"{name}.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": [r[0] for r in rows],
                "card": pa.array([r[1] for r in rows], pa.int64()),
                "bitmap": pa.array([r[2] for r in rows], pa.binary()),
            }
        ),
        path,
    )
    return FileEntry(
        content=DELETES,
        path=path,
        record_count=sum(r[1] for r in rows),
        file_size_bytes=1,
        sequence_number=1,
        stats={DV_FORMAT_STAT: fmt},
    )


def test_dv_corruption_raises(spark, tmp_path):
    """A torn/corrupt framed bitmap must fail LOUDLY at expansion, naming
    the data file, never mis-scan (reference blob carries magic + crc32c for
    the same reason, deletion_vector.rs:16-49)."""
    good = _reference_v2c([1, 9, 200])
    flipped = good[:5] + bytes([good[5] ^ 0xFF]) + good[6:]
    cases = [
        ("flipped", flipped, "crc mismatch"),
        ("truncated", good[2:], "missing magic"),
        ("short", good[:3], "missing magic"),
    ]
    for name, blob, msg in cases:
        target = f"/data/{name}-target.parquet"
        e = _dv_file(tmp_path, name, DV2C, [("/data/ok.parquet", 3, good), (target, 3, blob)])
        with pytest.raises(Exception, match=msg) as info:
            read_delete_positions(spark, [e]).collect()
        assert target in str(info.value)
    # legacy unframed v2 blobs still expand, next to framed v2c files
    raw = _dv_file(tmp_path, "legacy", DV2, [("/data/old.parquet", 3, good[4:-4])])
    ok = _dv_file(tmp_path, "framed", DV2C, [("/data/new.parquet", 3, good)])
    got = read_delete_positions(spark, [raw, ok]).collect()
    assert sorted((r["file_path"], r["pos"]) for r in got) == sorted(
        (fp, p) for fp in ("/data/old.parquet", "/data/new.parquet") for p in (1, 9, 200)
    )


# ------------------------------------------------------------------ bloom


def _bloom_stats(hashes: np.ndarray) -> dict:
    pdf = pd.DataFrame({"f": "/x.parquet", "h": hashes.view(np.int64)})
    r = _pack(pdf).iloc[0]
    return {"m": int(r["m"]), "k": int(r["k"]), "bits": bytes(r["bits"])}


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1,
        max_size=300,
        unique=True,
    )
)
def test_bloom_no_false_negatives(keys):
    h = np.array(keys, dtype=np.int64).view(np.uint64)
    e = _entry({BLOOM_STAT: _bloom_stats(h)})
    # every inserted key must be admitted — singly and as a batch
    assert bloom_may_contain_any(e, h)
    for x in h[:20]:
        assert bloom_may_contain_any(e, np.array([x], dtype=np.uint64))


def test_bloom_false_positive_rate_sane():
    rng = np.random.default_rng(7)
    present = rng.integers(0, 2**63, 5_000, dtype=np.int64).view(np.uint64)
    e = _entry({BLOOM_STAT: _bloom_stats(present)})
    absent = rng.integers(0, 2**63, 20_000, dtype=np.int64).view(np.uint64)
    absent = np.setdiff1d(absent, present)
    fp = sum(
        bool(bloom_may_contain_any(e, np.array([x], dtype=np.uint64)))
        for x in absent[:2000]
    )
    # 20 bits/key, 7 hashes -> theoretical fpr ~1e-4; allow generous slack
    assert fp / 2000 < 0.01


def test_bloom_prune_semantics():
    h = np.arange(10, dtype=np.int64).view(np.uint64)
    with_bloom = _entry({BLOOM_STAT: _bloom_stats(h)})
    without = _entry()
    # no batch keys -> nothing can match
    assert prune_by_bloom([with_bloom, without], np.array([], dtype=np.int64)) == []
    # files without blooms are always kept (bloom is an optimization)
    miss = np.array([10**18], dtype=np.int64)
    kept = prune_by_bloom([with_bloom, without], miss)
    assert without in kept
