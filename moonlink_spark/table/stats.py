"""Per-file stats collection from Parquet footers — distributed.

Moonlink folds Parquet row-group stats into Iceberg per-column lower/upper
bounds (reference: src/moonlink/src/storage/iceberg/parquet_stats_utils.rs:327-412,
``MinMaxColAggregator``). Here executors read footers with pyarrow via
``mapInPandas`` over the file list, so stats collection scales with the number
of files (at 10^12-image scale the file list itself is a DataFrame, never a
driver-side loop over footers).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from moonlink_spark.session import local_frame
from moonlink_spark.table.format import DATA, FileEntry

_STATS_SCHEMA = "path string, record_count long, file_size_bytes long, stats_json string"

_TRUNC = 64  # string min/max truncation length (Iceberg-style)

def _struct_leaf_paths(schema_arrow) -> frozenset[str]:
    """Dotted paths reachable through STRUCT nesting only. Bounds under a
    list/map repetition level (x.list.element, m.key_value.key) describe
    element content, not a file-level range of the column, so they are
    excluded — detection walks the arrow types, not path-segment names
    (a struct field legitimately named "key" or "value" keeps its bounds)."""
    import pyarrow as pa

    out: set[str] = set()

    def walk(prefix: str, typ) -> None:
        if pa.types.is_struct(typ):
            for f in typ:
                walk(f"{prefix}.{f.name}", f.type)
        else:
            out.add(prefix)

    for f in schema_arrow:
        if pa.types.is_struct(f.type):
            walk(f.name, f.type)
    return frozenset(out)


def _jsonable(v, is_max: bool):
    """Make a footer stat JSON-serializable while keeping bound safety:
    a truncated max must still be >= the true max (round the last char up);
    a decimal bound rounded to float must round OUTWARD (min down, max up)."""
    import decimal as _decimal
    import math as _math

    if v is None:
        return None
    if isinstance(v, bytes):
        return None  # no bounds for binary payloads (image bytes)
    if isinstance(v, (_dt.datetime, _dt.date, _dt.time)):
        return v.isoformat()  # fixed-width ISO — lexicographic == temporal
    if isinstance(v, _decimal.Decimal):
        f = float(v)
        return _math.nextafter(f, _math.inf if is_max else -_math.inf)
    if isinstance(v, str) and len(v) > _TRUNC:
        if is_max:
            t = v[:_TRUNC]
            return t[:-1] + chr(ord(t[-1]) + 1)
        return v[:_TRUNC]
    if isinstance(v, float) and (v != v):  # NaN
        return None
    return v


def _decode_decimal(raw, scale: int):
    """Unscaled parquet decimal stat → decimal.Decimal. INT32/INT64-backed
    decimals surface as python ints; FIXED_LEN_BYTE_ARRAY as big-endian
    two's-complement bytes."""
    import decimal as _decimal

    if raw is None:
        return None
    if isinstance(raw, bytes):
        raw = int.from_bytes(raw, "big", signed=True)
    return _decimal.Decimal(raw).scaleb(-scale)


def _open_footer(p: str):
    """(ParquetFile, size) for local paths AND object-store URIs — the
    data-plane analog of the metadata accessor (reference: moonlink routes
    every file op through its FilesystemAccessor,
    src/moonlink/src/storage/filesystem/accessor/filesystem_accessor.rs).
    pyarrow.fs speaks s3://, gs://, hdfs:// natively; plain paths stay on
    the fast local branch."""
    import pyarrow.parquet as pq

    if "://" in p and not p.startswith("file:"):
        from pyarrow import fs as pafs

        fsys, inner = pafs.FileSystem.from_uri(p)
        return pq.ParquetFile(fsys.open_input_file(inner)), fsys.get_file_info(inner).size
    local = p[len("file:"):] if p.startswith("file:") else p
    return pq.ParquetFile(local), os.path.getsize(local)


def _footer_stats(
    paths: pd.Series, expected_field_ids: dict[str, int] | None = None
) -> pd.DataFrame:
    rows = []
    from moonlink_spark.table.fieldids import NO_FIELD_IDS_STAT, footer_field_id_map

    for p in paths:
        pf, fsize = _open_footer(p)
        md = pf.metadata
        agg: dict[str, dict] = {}
        # identity resolution marker: a file is id-resolvable ONLY when its
        # footer carries a PARQUET:field_id on every column AND those ids
        # agree with the table's name->id map — a foreign file with its OWN
        # ids (exported from another Iceberg/moonlink table) must take the
        # name-resolved branch or Spark's strict id matching silently reads
        # every column as NULL. Everything else (no ids, partial ids,
        # mismatched/permuted ids) scans by NAME (fieldids.py), which
        # add_files already validated for names/types.
        fmap = footer_field_id_map(pf.schema_arrow)
        if fmap is None or (
            expected_field_ids is not None
            and any(expected_field_ids.get(n) != i for n, i in fmap.items())
        ):
            agg[NO_FIELD_IDS_STAT] = True
        struct_leaves = _struct_leaf_paths(pf.schema_arrow)
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:
                    # Struct leaves keep their dotted path as the stats key
                    # (Iceberg tracks bounds per LEAF field, and moonlink's
                    # fold walks leaves the same way,
                    # parquet_stats_utils.rs:327-412); paths through a
                    # list/map repetition level carry no file-range meaning
                    # and are skipped.
                    if name not in struct_leaves:
                        continue
                st = col.statistics
                if st is None:
                    continue
                a = agg.setdefault(name, {"min": None, "max": None, "nulls": 0})
                if st.null_count is not None:
                    a["nulls"] += st.null_count
                if st.has_min_max:
                    try:
                        raw_mn, raw_mx = st.min, st.max
                    except Exception:
                        # pyarrow can't cast some physical/logical combos
                        # (INT64-backed decimals as Spark writes them; INT96
                        # timestamps in foreign files). Decimals decode from
                        # the raw unscaled value (the reference folds decimal
                        # bounds too, parquet_stats_utils.rs:34-174); others
                        # get no bounds — bounds are an optimization.
                        raw_mn = raw_mx = None
                        lt = st.logical_type
                        if lt is not None and lt.type == "DECIMAL":
                            scale = json.loads(lt.to_json())["scale"]
                            raw_mn = _decode_decimal(st.min_raw, scale)
                            raw_mx = _decode_decimal(st.max_raw, scale)
                        if raw_mn is None or raw_mx is None:
                            continue
                    mn = _jsonable(raw_mn, is_max=False)
                    mx = _jsonable(raw_mx, is_max=True)
                    if mn is not None and (a["min"] is None or mn < a["min"]):
                        a["min"] = mn
                    if mx is not None and (a["max"] is None or mx > a["max"]):
                        a["max"] = mx
        rows.append(
            {
                "path": p,
                "record_count": md.num_rows,
                "file_size_bytes": fsize,
                "stats_json": json.dumps(agg),
            }
        )
    return pd.DataFrame(rows, columns=["path", "record_count", "file_size_bytes", "stats_json"])


def collect_file_entries(
    spark: SparkSession,
    paths: list[str],
    content: str = DATA,
    expected_field_ids: dict[str, int] | None = None,
) -> list[FileEntry]:
    """Footer-scan `paths` in executors, return manifest entries.

    ``expected_field_ids`` (the table's name->id map) gates id-resolution:
    footer ids must match it exactly or the file is marked name-resolved.
    """
    if not paths:
        return []

    def _mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _footer_stats(b["path"], expected_field_ids)

    # Footers are metadata-scale (~ms each): driver-side pyarrow beats a
    # Spark job by orders of magnitude until the file LIST is itself large;
    # beyond the threshold the job fans out so a million-file commit never
    # loops on the driver.
    if len(paths) <= 512:
        pdf = _footer_stats(pd.Series(paths), expected_field_ids)
    else:
        df = local_frame(spark, {"path": paths}, "path string").repartition(
            min(len(paths) // 32, 256)
        )
        pdf = df.mapInPandas(_mapper, schema=_STATS_SCHEMA).toPandas()
    return [
        FileEntry(
            content=content,
            path=r.path,
            record_count=int(r.record_count),
            file_size_bytes=int(r.file_size_bytes),
            sequence_number=-1,  # assigned at commit
            stats=json.loads(r.stats_json),
        )
        for r in pdf.itertuples()
    ]


def stats_dataframe(spark: SparkSession, entries: list[FileEntry]) -> DataFrame:
    """File-level stats as a DataFrame (for pruning joins / skew metrics)."""
    rows = [
        (e.path, e.record_count, e.file_size_bytes, e.sequence_number, json.dumps(e.stats))
        for e in entries
    ]
    return local_frame(
        spark, rows, "path string, record_count long, file_size_bytes long, sequence_number long, stats_json string"
    )
