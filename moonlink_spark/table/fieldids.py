"""Parquet field ids — identity-based column resolution for schema evolution.

Moonlink stamps every Arrow column with ``PARQUET:field_id`` so Iceberg
readers resolve columns by ID, not name (reference:
src/moonlink/benches/bench_write.rs:33-44 — field-id metadata on every
schema field; src/moonlink/src/storage/iceberg/iceberg_table_syncer.rs
commits schemas whose fields carry those ids). Name-based resolution breaks
drop-then-re-add: a re-added name would resurrect old physical values.

Spark-first mapping — all public Spark surface, no custom reader:

- Table schemas carry ``{"parquet.field.id": N}`` in each StructField's
  metadata (Spark's own field-id key, ParquetUtils.FIELD_ID_METADATA_KEY).
  Ids are assigned at create_table and never reused; the high-water mark is
  ``max(id)+1`` over the current schema plus a monotone table property.
- Writers stamp the metadata onto the outgoing DataFrame columns
  (``Column.alias(metadata=...)``); Spark's parquet writer persists them
  (``spark.sql.parquet.fieldId.write.enabled``, default true).
- Scans pass the id-carrying schema with
  ``spark.sql.parquet.fieldId.read.enabled=true``: Spark matches parquet
  columns by id, so a column dropped and re-added under the same name reads
  as NULL from pre-re-add files (new id ≠ old id) instead of resurrecting.
- Files WITHOUT ids (bulk-ingested foreign parquet, pre-field-id history)
  are detected from footers at manifest time and scanned in a separate
  name-resolved read unioned with the id-resolved one — mixed histories
  stay correct, and ``fieldId.read.ignoreMissing`` stays false (loud).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Spark's parquet field-id metadata key (ParquetUtils.FIELD_ID_METADATA_KEY)
FIELD_ID_KEY = "parquet.field.id"
# pyarrow's view of the same id in a parquet footer
ARROW_FIELD_ID_KEY = b"PARQUET:field_id"
# manifest stat marker for files whose footer carries NO field ids
NO_FIELD_IDS_STAT = "__no_field_ids"


def field_id(f: StructField) -> int | None:
    v = (f.metadata or {}).get(FIELD_ID_KEY)
    return int(v) if v is not None else None


def has_field_ids(schema: StructType) -> bool:
    """True when EVERY field carries an id (partial stamping is a bug)."""
    return bool(schema.fields) and all(field_id(f) is not None for f in schema.fields)


def assign_field_ids(schema: StructType, start: int = 1) -> StructType:
    """Stamp ids ``start..`` onto fields lacking one; existing ids are kept.
    New ids begin above both ``start`` and the current max."""
    hwm = max(
        [start - 1] + [field_id(f) for f in schema.fields if field_id(f) is not None]
    )
    out = []
    for f in schema.fields:
        if field_id(f) is not None:
            out.append(f)
        else:
            hwm += 1
            md = dict(f.metadata or {})
            md[FIELD_ID_KEY] = hwm
            out.append(StructField(f.name, f.dataType, f.nullable, md))
    return StructType(out)


def next_field_id(schema: StructType, floor: int = 0) -> int:
    """First id safely above every id in ``schema`` and above ``floor``
    (the table's monotone high-water property, so ids of DROPPED columns
    are never reused either)."""
    ids = [field_id(f) or 0 for f in schema.fields]
    return max([floor] + ids) + 1


def strip_field_ids(schema: StructType) -> StructType:
    """Schema with id metadata removed — the name-resolution read of files
    that predate field ids (passing ids for id-less files would error)."""
    out = []
    for f in schema.fields:
        md = {k: v for k, v in (f.metadata or {}).items() if k != FIELD_ID_KEY}
        out.append(StructField(f.name, f.dataType, f.nullable, md))
    return StructType(out)


def stamp_field_ids(df: DataFrame, schema: StructType) -> DataFrame:
    """Re-alias ``df``'s columns with the id metadata from ``schema`` so the
    parquet writer persists field ids. Columns not in ``schema`` (none on
    the write path) pass through; a schema without ids is a no-op."""
    if not has_field_ids(schema):
        return df
    by_name = {f.name: f for f in schema.fields}
    cols = []
    for name in df.columns:
        f = by_name.get(name)
        if f is None:
            cols.append(F.col(name))
        else:
            cols.append(
                F.col(name).alias(name, metadata={FIELD_ID_KEY: field_id(f)})
            )
    return df.select(*cols)


def footer_field_id_map(arrow_schema) -> dict[str, int] | None:
    """name -> PARQUET:field_id for every top-level column of a parquet
    footer's Arrow schema (pyarrow surfaces it as field metadata), or None
    when ANY column lacks an id (partial stamping = id-less file)."""
    out: dict[str, int] = {}
    for i in range(len(arrow_schema.names)):
        f = arrow_schema.field(i)
        md = f.metadata or {}
        v = md.get(ARROW_FIELD_ID_KEY)
        if v is None:
            return None
        out[f.name] = int(v)
    return out


def schema_field_id_map(schema: StructType) -> dict[str, int] | None:
    """name -> field id for a table schema, or None when the schema carries
    no (complete) ids. This is the AGREEMENT reference for footer ids: a
    file is id-resolvable only when its footer ids match this map exactly —
    a foreign file carrying its OWN ids (exported from another Iceberg/
    moonlink table) would otherwise be id-scanned against the wrong ids and
    silently read every column as NULL (or permute values)."""
    if not has_field_ids(schema):
        return None
    return {f.name: field_id(f) for f in schema.fields}
