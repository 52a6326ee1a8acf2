"""Snapshot scans with positional-delete (deletion vector) application.

The moonlink read path returns {data files, DV blobs, position deletes} and
the engine applies per-row-group row selections
(reference: src/moonlink/src/union_read/read_state_manager.rs:90-164,
src/moonlink_datafusion/src/table_provider.rs:67-173). Spark-first mapping:

    scan = read(data files)
             .withColumn(__file, _metadata.file_path)   # row identity
             .withColumn(__pos,  _metadata.row_index)
             .join(broadcast(delete_rows), on=(__file,__pos), how=left_anti)

The anti-join IS the deletion-vector filter; Spark's vectorized Parquet
reader + whole-stage codegen keep it JVM-side. Delete sets are broadcast when
small (the common case — compaction keeps deleted% < 50,
reference: src/moonlink/src/storage/compaction/compaction_config.rs:47-54),
else AQE picks a shuffle join.

Equality deletes anti-join on their key columns under the sequence rule: each
row is stamped with its data file's sequence number from a driver-built
(path -> seq) map. That map, and the empty scan, reach Spark as Arrow
``LocalRelation``s (session.local_frame), so no read runs a Python worker —
no per-row work on delete application, as in the reference's read path.

One core, :func:`read_files`, applies all of this to file entries; scan()
and the published-Iceberg reader (operators/publish.read_published) both
call it. A row is ``(__file, __pos)``, ``__file`` normalized by the one path
rule (table/format.norm_path, Column form ``_norm_path``), so delete files
match their data files at plain and ``file://`` locations alike.

Delete-side read state. The reference keeps one read state per snapshot
version and hands every reader the same prepared delete set
(read_state_manager.rs:90-164); Iceberg's ``DeleteFileIndex`` plays the same
role. Here each session keeps a bounded LRU of the delete-side relations
:func:`read_files` builds: one DV frame per DV file list
(:func:`delete_positions`) and one equality-delete relation per sequence
group (:func:`eq_delete_frame`). A key is the identity of the files —
``(path, file_size_bytes, record_count, sequence_number)`` each, plus the
key-column schema for an equality group — and file names carry uuids and
files are never modified, so the LRU bound is the only invalidation needed.
After a lazy MERGE the next read builds only the new file's group. The cache
holds plans, not rows: files are read when the query runs (a corrupt DV
still fails loudly), and the broadcast hint is applied per read, outside the
cached relation. The cache belongs to the ``SparkSession`` object (a frame
of one session cannot join another's) and a lock guards it: MERGE and
compaction read from driver threads.

File pruning: per-file min/max bounds from manifests prune data files before
the scan starts (the moonlink GlobalIndex's job — locate keys without reading
everything — done the Spark way, reference:
src/moonlink/src/storage/index/persisted_bucket_hash_map.rs:25-93); the
candidate planner lives in table/planning.py.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from moonlink_spark.session import local_frame
from moonlink_spark.table.catalog import Table
from moonlink_spark.table.dv import DV_FORMAT_STAT, read_delete_positions
from moonlink_spark.table.format import EQ_DELETES, FILE_SCHEME_RE, FileEntry
from moonlink_spark.table.writer import EQ_KEYS_STAT

FILE_COL = "__file"
POS_COL = "__pos"
_DSEQ_COL = "__dseq"

# Broadcast hash relations store the path STRING per row (no dict encoding):
# ~(100B path + 8B pos + hash-table overhead) ≈ 300B/row, so 1M rows ≈ 300MB
# on the driver and every executor — the ceiling for a safe broadcast.
# Bigger delete sets shuffle-join (AQE picks the strategy); compaction keeps
# delete ratios low so this path is rare.
_BROADCAST_DELETE_ROWS = 1_000_000

# delete-side relations a session keeps (module docstring); a read of a
# merge-on-read table holds one DV frame and one relation per live
# equality-delete sequence group
_READ_STATE_MAX = 128
_READ_STATE_ATTR = "_moonlink_read_state"
_read_state_lock = threading.Lock()


def _norm_path(col: Column) -> Column:
    """Column form of table/format.norm_path."""
    return F.regexp_replace(col, FILE_SCHEME_RE, "/")


def _file_ids(entries: list[FileEntry]) -> tuple:
    """The identity of a delete-file set, in any order (a read-state key)."""
    return tuple(sorted(
        (e.path, e.file_size_bytes, e.record_count, e.sequence_number,
         e.stats.get(DV_FORMAT_STAT))
        for e in entries
    ))


def _read_state(spark: SparkSession, key: tuple, build) -> DataFrame:
    """The session's delete-side relation for ``key``; ``build()`` makes it
    on a miss. Two threads missing at once both build; either result is the
    same plan."""
    with _read_state_lock:
        cache = spark.__dict__.setdefault(_READ_STATE_ATTR, OrderedDict())
        df = cache.get(key)
        if df is not None:
            cache.move_to_end(key)
            return df
    df = build()
    with _read_state_lock:
        cache[key] = df
        cache.move_to_end(key)
        while len(cache) > _READ_STATE_MAX:
            cache.popitem(last=False)
    return df


def delete_positions(spark: SparkSession, entries: list[FileEntry]) -> DataFrame:
    """``dv.read_delete_positions`` of ``entries`` (non-empty), one relation
    per DV file list per session."""
    return _read_state(
        spark, ("dv", _file_ids(entries)),
        lambda: read_delete_positions(spark, entries),
    )


def scan(
    spark: SparkSession,
    table: Table,
    snapshot_id: int | None = None,
    columns: list[str] | None = None,
    with_pos: bool = False,
    data_entries: list[FileEntry] | None = None,
    delete_entries: list[FileEntry] | None = None,
    eq_delete_entries: list[FileEntry] | None = None,
    ref: str | None = None,
) -> DataFrame:
    """LSN-consistent scan of a snapshot (default: current; ``ref`` names a
    tag/branch — time travel by human name, table/refs.py).

    ``data_entries`` lets callers scan a pruned / selected subset of the
    snapshot's files (compaction bins, stat-pruned MERGE probes) while still
    applying the snapshot's deletes correctly. ``delete_entries`` overrides
    the delete set the same way (changelog insert reads pass [] because a
    commit's new files cannot be referenced by its own DVs).
    """
    from moonlink_spark.schema import table_identity

    if ref is not None:
        from moonlink_spark.table.refs import resolve_ref

        if snapshot_id is not None:
            raise ValueError("pass either snapshot_id or ref, not both")
        snapshot_id = resolve_ref(table, ref)
    entries = data_entries if data_entries is not None else table.data_entries(snapshot_id)
    if delete_entries is None:
        delete_entries = table.delete_entries(snapshot_id)
    if eq_delete_entries is None:
        eq_delete_entries = table.entries(snapshot_id, EQ_DELETES)
    identity = table_identity(table)
    check_eq_identity(eq_delete_entries, identity)
    return read_files(
        spark, table.schema, identity, entries, delete_entries,
        eq_delete_entries, columns, with_pos,
    )


def read_files(
    spark: SparkSession,
    schema: StructType,
    identity: list[str],
    data: list[FileEntry],
    pos_deletes: list[FileEntry],
    eq_deletes: list[FileEntry],
    columns: list[str] | None = None,
    with_pos: bool = False,
) -> DataFrame:
    """The delete-application core: the rows of ``data`` read under
    ``schema``, minus the (file, position) pairs ``pos_deletes`` name, minus
    the rows ``eq_deletes`` name by key under the Iceberg v2 sequence rule.
    Each equality-delete file applies by its own key list (``EQ_KEYS_STAT``;
    ``identity`` when it records none); files are grouped by key list, then
    by sequence number. ``with_pos`` keeps ``__file``/``__pos``."""
    out_cols = columns or [f.name for f in schema.fields]
    eq_groups: dict[str, list[FileEntry]] = {}
    for e in eq_deletes:
        keys = e.stats.get(EQ_KEYS_STAT) or ",".join(identity)
        eq_groups.setdefault(keys, []).append(e)
    # eq-delete application joins on the key columns — a projection that
    # excludes them still needs them READ (then dropped post-join), or the
    # anti-join condition would reference missing columns
    eq_extra = [
        k for k in dict.fromkeys(k for ks in eq_groups for k in ks.split(","))
        if k not in out_cols
    ]

    if not data:
        empty_schema = StructType(
            [f for f in schema.fields if f.name in out_cols]
            + ([StructField(FILE_COL, StringType()), StructField(POS_COL, LongType())] if with_pos else [])
        )
        return local_frame(spark, [], empty_schema)

    def _read(sch, ents):
        return (
            spark.read.schema(sch)
            .parquet(*[e.path for e in ents])
            .select(
                *out_cols,
                *eq_extra,
                _norm_path(F.col("_metadata.file_path")).alias(FILE_COL),
                F.col("_metadata.row_index").alias(POS_COL),
            )
        )

    from moonlink_spark.table.fieldids import (
        NO_FIELD_IDS_STAT,
        has_field_ids,
        strip_field_ids,
    )

    if has_field_ids(schema):
        # identity-based column resolution (fieldids.py): files whose
        # footers carry PARQUET:field_id resolve by id — a column dropped
        # and re-added under the same name reads NULL from old files, never
        # resurrected values. Id-less files (bulk-ingested foreign parquet,
        # pre-field-id history) take a separate name-resolved read; the
        # union keeps mixed histories correct with ignoreMissing left false.
        # get_spark() enables id-reads at session construction; for foreign
        # sessions it is enabled HERE once (required for correctness — the
        # one documented conf this engine needs) rather than toggled per scan.
        if spark.conf.get("spark.sql.parquet.fieldId.read.enabled", "false") != "true":
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        with_ids = [e for e in data if not e.stats.get(NO_FIELD_IDS_STAT)]
        without_ids = [e for e in data if e.stats.get(NO_FIELD_IDS_STAT)]
        parts = []
        if with_ids:
            parts.append(_read(schema, with_ids))
        if without_ids:
            parts.append(_read(strip_field_ids(schema), without_ids))
        df = parts[0]
        for part in parts[1:]:
            df = df.unionByName(part)
    else:
        df = _read(schema, data)

    if pos_deletes:
        n_del = sum(e.record_count for e in pos_deletes)
        # DV bitmaps expand to (file,pos) rows lazily, executor-side, and
        # only feed this anti-join — delete metadata is tiny vs row data
        dels = delete_positions(spark, pos_deletes)
        cond = (df[FILE_COL] == _norm_path(dels["file_path"])) & (df[POS_COL] == dels["pos"])
        if n_del <= _BROADCAST_DELETE_ROWS:
            dels = F.broadcast(dels)
        df = df.join(dels, cond, "left_anti")

    if eq_groups:
        # both join sides are metadata-scale: the per-data-file seq map and
        # the delete keys broadcast below the usual ceiling
        df = attach_data_seq(spark, df, data)
        for keys, group in eq_groups.items():
            key_list = keys.split(",")
            eq = eq_delete_frame(spark, schema, key_list, group)
            df = df.join(eq, eq_match_cond(df, key_list), "left_anti")
        df = df.drop(_DSEQ_COL, *eq_extra)

    if not with_pos:
        df = df.drop(FILE_COL, POS_COL)
    return df


def check_eq_identity(entries: list[FileEntry], keys: list[str]) -> None:
    """Every equality-delete file must have been written over ``keys``, the
    table's CURRENT identity: an identity re-declaration cannot silently
    mis-apply old delete files. Shared by scan, eq-delete maintenance and
    the DataSource planner."""
    for e in entries:
        wrote = e.stats.get(EQ_KEYS_STAT)
        if wrote and wrote.split(",") != list(keys):
            raise ValueError(
                f"eq-delete file {e.path} was written over identity "
                f"[{wrote}] but the table now declares {list(keys)}; "
                "re-declare the identity only after compacting eq-deletes away"
            )


def eq_delete_frame(
    spark: SparkSession, schema: StructType, keys: list[str], entries: list[FileEntry]
) -> DataFrame:
    """Equality-delete keys of ``entries`` (all written over ``keys``) as one
    DataFrame with columns ``__eq_<key>...`` and ``__eseq`` (the delete
    file's sequence number), broadcast below the usual ceiling. Each
    sequence group's relation is kept in the session's read state."""
    from moonlink_spark.table.fieldids import strip_field_ids

    # eq files grouped by THEIR sequence number (few distinct commits alive
    # at once — maintenance keeps it so); written with exact key names, so
    # the name-resolved (id-stripped) read is the correct one
    by_seq: dict[int, list[FileEntry]] = {}
    for e in entries:
        by_seq.setdefault(e.sequence_number, []).append(e)
    key_schema = strip_field_ids(
        StructType([f for f in schema.fields if f.name in keys])
    )

    def build(s: int, group: list[FileEntry]) -> DataFrame:
        return (
            spark.read.schema(key_schema)
            .parquet(*[e.path for e in group])
            .select(
                *[F.col(k).alias(f"__eq_{k}") for k in keys],
                F.lit(int(s)).alias("__eseq"),
            )
        )

    parts = [
        _read_state(
            spark, ("eq", key_schema.json(), tuple(keys), _file_ids(group)),
            lambda s=s, group=group: build(s, group),
        )
        for s, group in sorted(by_seq.items())
    ]
    eq = parts[0]
    for p in parts[1:]:
        eq = eq.unionByName(p)
    if sum(e.record_count for e in entries) <= _BROADCAST_DELETE_ROWS:
        eq = F.broadcast(eq)
    return eq


def attach_data_seq(
    spark: SparkSession, df: DataFrame, data_entries: list[FileEntry]
) -> DataFrame:
    """Stamp each scan row with its data file's sequence number via a tiny
    broadcast (path -> seq) — the per-row input to the sequence rule. The
    map is a LocalRelation (session.local_frame): Spark broadcasts it with
    no Python worker to decode it."""
    seq_map = F.broadcast(
        local_frame(
            spark,
            [(e.path, e.sequence_number) for e in data_entries],
            f"__dpath string, {_DSEQ_COL} long",
        )
    )
    # scan rows carry the normalized path (file:///a -> /a); so must the map
    on = df[FILE_COL] == _norm_path(seq_map["__dpath"])
    return df.join(seq_map, on, "left").drop("__dpath")


def eq_match_cond(df: DataFrame, keys: list[str]) -> Column:
    """The Iceberg v2 equality-delete predicate: key tuple equal AND the
    delete file is STRICTLY NEWER than the row's data file (a lazy MERGE's
    own upserts survive; every older version of the key dies)."""
    cond = F.lit(True)
    for k in keys:
        cond = cond & (df[k] == F.col(f"__eq_{k}"))
    return cond & (F.col("__eseq") > F.col(_DSEQ_COL))


def scan_at_lsn(spark: SparkSession, table: Table, lsn: int, **kw) -> DataFrame:
    snap = table.snapshot_at_lsn(lsn)
    return scan(spark, table, snapshot_id=snap.snapshot_id, **kw)


def scan_range(
    spark: SparkSession,
    table: Table,
    key: str | list[str],
    lo,
    hi,
    snapshot_id: int | None = None,
    **kw,
) -> DataFrame:
    """Key-range scan with manifest-stat file pruning BEFORE the read plan
    is built, plus the residual row filter.

    ``key`` may be a list of columns with aligned ``lo``/``hi`` lists — a
    conjunction of per-column ranges (e.g. a composite-identity probe or a
    key+timestamp slice); a file survives only if EVERY column's bounds
    intersect its stats (table/planning.py; files lacking bounds are
    always kept). The residual
    ``col BETWEEN lo AND hi`` conjunction then lands on the parquet scan as
    pushed predicates, so row-group stats prune within surviving files too.
    """
    from moonlink_spark.schema import normalize_keys
    from moonlink_spark.table.planning import plan_data_candidates

    keys = normalize_keys(key)
    los = list(lo) if isinstance(lo, (list, tuple)) else [lo]
    his = list(hi) if isinstance(hi, (list, tuple)) else [hi]
    if not (len(keys) == len(los) == len(his)):
        raise ValueError("key/lo/hi must align")
    entries, _ = plan_data_candidates(
        spark, table, keys, los, his, snapshot_id=snapshot_id
    )
    df = scan(spark, table, snapshot_id=snapshot_id, data_entries=entries, **kw)
    cond = F.lit(True)
    for k, klo, khi in zip(keys, los, his):
        cond = cond & (F.col(k) >= F.lit(klo)) & (F.col(k) <= F.lit(khi))
    return df.filter(cond)


def _value_runs(values: list) -> list[tuple]:
    """Sorted distinct values → minimal closed-interval cover: consecutive
    integers merge into one run ({3,4,5,9} → [(3,5), (9,9)]); non-integer
    values become point intervals."""
    vals = sorted(set(values))
    runs: list[tuple] = []
    for v in vals:
        if (
            runs
            and isinstance(v, int)
            and isinstance(runs[-1][1], int)
            and v == runs[-1][1] + 1
        ):
            runs[-1] = (runs[-1][0], v)
        else:
            runs.append((v, v))
    return [tuple(r) for r in runs]


def scan_values(
    spark: SparkSession,
    table: Table,
    key: str,
    values: list,
    snapshot_id: int | None = None,
    **kw,
) -> DataFrame:
    """Scan of rows where ``key`` ∈ ``values`` with manifest-stat file
    pruning planned in ONE pass (an interval union over merged value
    runs), instead of one ``scan_range`` — one planner invocation,
    potentially one Spark manifest job each — per value. This is the IVF
    probe read (operators/ivf.py): n_probe cells plan as one job. The
    residual ``key IN (values)`` lands on the parquet scan as a pushed
    predicate, so row groups prune within surviving files too."""
    from moonlink_spark.table.planning import plan_data_candidates_union

    values = list(values)
    if not values:
        return scan(
            spark, table, snapshot_id=snapshot_id, data_entries=[], **kw
        )
    entries, _ = plan_data_candidates_union(
        spark, table, key, _value_runs(values), snapshot_id=snapshot_id
    )
    df = scan(spark, table, snapshot_id=snapshot_id, data_entries=entries, **kw)
    return df.filter(F.col(key).isin(values))


def register_view(
    spark: SparkSession,
    table: Table,
    name: str,
    snapshot_id: int | None = None,
    lsn: int | None = None,
) -> DataFrame:
    """Expose an LSN-consistent snapshot scan as a Spark SQL temp view, so
    plain ``spark.sql("SELECT ... FROM <name>")`` queries the table — the
    Spark-native face of moonlink's read API (readers consume the synced
    Iceberg table directly; here the view IS the DV-applied, schema-resolved
    scan plan, fully JVM-side). The view is a SNAPSHOT: it pins the state at
    registration (or at ``snapshot_id``/``lsn``); re-register after new
    commits to advance it — exactly a reader's "read at LSN X" contract.
    """
    if lsn is not None:
        df = scan_at_lsn(spark, table, lsn)
    else:
        df = scan(spark, table, snapshot_id=snapshot_id)
    df.createOrReplaceTempView(name)
    return df
