"""Compressed deletion vectors — bitmap-per-data-file delete files.

Moonlink persists deletes as RoaringTreemap bitmaps in puffin blobs, one DV
per referenced data file (reference:
src/moonlink/src/storage/iceberg/deletion_vector.rs:16-98 — blob layout
``| len | magic | bitmap | crc32c |`` with referenced-data-file + cardinality
properties). The v1 representation here (one parquet row per deleted
position) is ~100x a bitmap at high delete ratios. v2 mirrors the reference:

    delete file schema: file_path string, card long, bitmap binary
    one row PER REFERENCED DATA FILE; bit i of ``bitmap`` set = row position
    i of that data file is deleted (little-endian bit order, dense from 0 to
    the max deleted position).

Cardinality is carried per row (like the reference's blob property) so
consumers can size broadcasts without unpacking.

Both directions run JVM-side, in Spark's built-in expressions — no Python
worker on the delete path, so a DV read adds no task-serialization round
trip to every scan and MERGE probe:

- pack: ``bitmap_construct_agg`` builds one 4 KiB bucket per 32,768
  positions (bit ``i`` at byte ``i >> 3``, mask ``1 << (i & 7)`` — the same
  little-endian order as the stored bitmap); the buckets are concatenated
  in order, gaps zero-filled, trimmed to the max position's byte and framed;
- expand: the bitmap is cut into 7-byte words (56 bits fit a signed long
  through ``conv(hex(..))``), all-zero words are dropped, and each remaining
  word explodes into the positions of its set bits (``explode(sequence(..))``).

The PACKED form is what's stored and shuffled; expansion to (file_path,
pos) rows happens lazily, executor-side, and only feeds the scan's
anti-join.

Integrity (v2c): the reference's DV blob is framed ``| len | magic D1D33964
| bitmap | crc32c |`` (deletion_vector.rs:16-49) so a torn or corrupt blob
fails LOUDLY instead of mis-scanning. v2c frames each bitmap the same way:
``magic(4B) || bits || crc32(bits)(4B LE)`` — crc32 (zlib) stands in for
crc32c, same integrity class, no extra dependency. Expansion verifies both
and raises (``raise_error``, naming the data file) on mismatch.

v1 files (row-per-position) and unframed v2 files remain readable for mixed
histories; new writes are v2c.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moonlink_spark.table.format import FileEntry

DV_FORMAT_STAT = "format"
DV2 = "dv2"
DV2C = "dv2c"

# the reference's DV blob magic, deletion_vector.rs:16-49
DV_MAGIC = bytes.fromhex("D1D33964")

POSITIONS_SCHEMA = "file_path string, pos long"
DV2_SCHEMA = "file_path string, card long, bitmap binary"

# bitmap_construct_agg's fixed bucket: 32,768 bits = 4,096 bytes
_BUCKET_SHIFT = 15
# expansion word: 7 bytes = 56 bits, the widest whole-byte unsigned value a
# signed long holds
_WORD = 7


class DVCorruption(ValueError):
    """A framed deletion-vector bitmap failed its magic/crc check."""


def _unframe(blob: bytes, where: str) -> bytes:
    """Driver/executor-side Python check of one framed bitmap (the
    DataSource's pyarrow reader); the Spark path checks in ``_checked_bits``."""
    if len(blob) < 8 or blob[:4] != DV_MAGIC:
        raise DVCorruption(f"deletion vector missing magic: {where}")
    bits, crc = blob[4:-4], struct.unpack("<I", blob[-4:])[0]
    if zlib.crc32(bits) & 0xFFFFFFFF != crc:
        raise DVCorruption(f"deletion vector crc mismatch: {where}")
    return bits


def _le32_hex(x: str) -> str:
    """SQL: bigint ``x`` in [0, 2^32) → its 4 little-endian bytes as hex."""
    h = f"lpad(hex({x}), 8, '0')"
    return f"concat({', '.join(f'substring({h}, {i}, 2)' for i in (7, 5, 3, 1))})"


def pack_positions(deletes_df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """(file_path, pos) rows → one (file_path, card, bitmap) row per file,
    bitmap v2c-framed. Duplicate positions collapse (a bit is set once).

    One shuffle, hash on ``file_path`` into ``num_partitions`` partitions
    (None: the session default): both aggregation levels below group on
    ``file_path`` plus at most the bucket, so they reuse that clustering."""
    clustered = (
        deletes_df.repartition(num_partitions, "file_path")
        if num_partitions
        else deletes_df.repartition("file_path")
    )
    v = F.col("pos") + 1  # the bitmap functions number values from 1
    buckets = clustered.groupBy(
        "file_path", F.bitmap_bucket_number(v).alias("b")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position(v)).alias("bm"),
        F.max("pos").alias("mx"),
    )
    # buckets 1..last in order as hex (a missing bucket is 4,096 zero
    # bytes), cut after the max position's byte
    bits_hex = (
        "substring(array_join(transform("
        f"sequence(1L, (mx >> {_BUCKET_SHIFT}) + 1), "
        "i -> coalesce(try_element_at(m, i), repeat('0', 8192))), ''), "
        "1, 2 * ((mx >> 3) + 1))"
    )
    return (
        buckets.groupBy("file_path")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("b", F.hex("bm")))).alias("m"),
            F.max("mx").alias("mx"),
            F.sum(F.bitmap_count("bm")).alias("card"),
        )
        .select("file_path", "card", F.expr(bits_hex).alias("h"))
        .select(
            "file_path",
            "card",
            F.expr(
                f"unhex(concat('{DV_MAGIC.hex()}', h, "
                f"{_le32_hex('crc32(unhex(h))')}))"
            ).alias("bitmap"),
        )
    )


def _checked_bits() -> str:
    """SQL: the bits of a v2c ``bitmap``, or a loud failure naming the data
    file when the magic or the crc32 does not hold."""
    n = "octet_length(bitmap)"
    bits = f"substring(bitmap, 5, {n} - 8)"
    stored = (
        "cast(conv(hex(concat("
        + ", ".join(f"substring(bitmap, {-i}, 1)" for i in (1, 2, 3, 4))
        + ")), 16, 10) as bigint)"
    )
    return (
        f"CASE WHEN {n} < 8 OR substring(bitmap, 1, 4) != X'{DV_MAGIC.hex()}' "
        "THEN raise_error(concat('deletion vector missing magic: ', file_path)) "
        f"WHEN crc32({bits}) != {stored} "
        "THEN raise_error(concat('deletion vector crc mismatch: ', file_path)) "
        f"ELSE {bits} END"
    )


def _expand(packed: DataFrame, framed: bool) -> DataFrame:
    """(file_path, card, bitmap) rows → (file_path, pos) rows.

    The bitmap is split into words by one regex pass over its hex string:
    a lambda over the bitmap itself would copy the whole binary value on
    every word, quadratic in its size."""
    bits = _checked_bits() if framed else "bitmap"
    n = 2 * _WORD  # hex digits per word
    words = packed.select("file_path", F.expr(f"hex({bits})").alias("h")).select(
        "file_path",
        F.posexplode(
            F.expr(
                f"transform(regexp_extract_all(rpad(h, {n} * ceil(length(h) / {n}), '0'), "
                f"'.{{{n}}}', 0), w -> cast(conv(w, 16, 10) as bigint))"
            )
        ).alias("k", "x"),
    )
    # bit j of a word is bit j & 7 of its byte j >> 3, which holds bits
    # (_WORD - 1 - (j >> 3)) * 8 and up of the word's value
    set_bits = (
        f"filter(sequence(0, {8 * _WORD - 1}), j -> "
        f"shiftright(x, ({_WORD - 1} - (j >> 3)) * 8 + (j & 7)) & 1 = 1)"
    )
    return words.where("x != 0").select(
        "file_path",
        F.explode(F.expr(f"transform({set_bits}, j -> k * {8 * _WORD} + j)")).alias("pos"),
    )


def is_dv2(entry: FileEntry) -> bool:
    return entry.stats.get(DV_FORMAT_STAT) in (DV2, DV2C)


def read_delete_positions(
    spark: SparkSession, delete_entries: list[FileEntry]
) -> DataFrame | None:
    """Delete entries → (file_path, pos) DataFrame (v2/v2c bitmaps expanded
    lazily executor-side, v2c crc-verified; v1 row files read as-is); None
    when no deletes."""
    if not delete_entries:
        return None
    v2c = [e.path for e in delete_entries if e.stats.get(DV_FORMAT_STAT) == DV2C]
    v2 = [e.path for e in delete_entries if e.stats.get(DV_FORMAT_STAT) == DV2]
    v1 = [e.path for e in delete_entries if not is_dv2(e)]
    parts = []
    if v1:
        parts.append(spark.read.schema(POSITIONS_SCHEMA).parquet(*v1))
    for paths, framed in ((v2, False), (v2c, True)):
        if paths:
            packed = spark.read.schema(DV2_SCHEMA).parquet(*paths)
            parts.append(_expand(packed, framed))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df
