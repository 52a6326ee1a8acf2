"""Spark-native DataSource: ``spark.read.format("moonlink")`` and
``spark.readStream.format("moonlink")`` over engine tables.

The engine's primary read path is ``table.scan.scan`` (JVM parquet reader,
broadcast DV anti-join, whole-stage codegen) — that remains the hot path.
This module is the *integration* surface: PySpark 4's Python DataSource API
(pyspark.sql.datasource) lets the table participate in plain
``spark.read``/``spark.readStream`` pipelines — the moonlink reference
exposes its tables to engines the same way, by publishing them as Iceberg
for any reader to consume (src/moonlink/src/storage/iceberg/
iceberg_table_syncer.rs); here the published form IS the table, and the
DataSource makes it consumable without importing the library's scan API.

Design:

- **Planning is metadata-only.** Partitions are derived from snapshot
  manifests (one partition per data file / per delete-file pre-image
  group); no Spark jobs run inside the source, so batch planning cannot
  deadlock micro-batch scheduling and is O(files-in-scope) driver-side —
  the same discipline as the engine's own planners.
- **Reads are executor-side pyarrow** (Arrow RecordBatches straight to
  Spark — the Python DataSource transport). Each partition independently
  applies its file's deletion vectors (packed-bitmap DV2/DV2C with crc
  verification, legacy v1 rows), equality-delete key sets under the
  strictly-older sequence rule, and field-id/name column resolution with
  widening casts — byte-identical semantics to ``table.scan.scan``, at a
  plain and a ``file://`` location alike. This application stays
  executor-side because the Python DataSource API produces rows in Python;
  it shares scan's identity guard (``check_eq_identity``) and the one
  data-file path rule (``table.format.norm_path``) that matches delete
  files to data files. It does not use scan's per-session delete-side
  read state (table/scan.py): it builds no Spark delete relation to reuse,
  only per-partition pyarrow reads inside executor tasks.
- **Streaming is the changelog.** ``readStream`` consumes LSN offsets:
  each micro-batch replays ``(start, end]`` commits as insert events (rows
  of files added by data-changing commits) and delete events (DV
  pre-images read by position) — the incremental-read contract of
  table/changelog.py, checkpointable by Spark because offsets are plain
  ``{"lsn": N}`` JSON and window reconstruction is deterministic.

Contracts: streaming requires ``.option("cdc", "true")`` (the schema gains
``_change_type``/``_change_lsn``). Lazy-MERGE equality-delete commits in a
streamed window raise by default — their full pre-image needs the deferred
key probe (a Spark job, table/changelog.py scan_changes); opt into
``.option("eqDeletes", "keys")`` to receive key-only delete events (the
identity columns populated from the equality-delete file, payload columns
NULL).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from moonlink_spark.table.format import norm_path

FORMAT_NAME = "moonlink"
CHANGE_TYPE_COL = "_change_type"
CHANGE_LSN_COL = "_change_lsn"


@dataclass
class MoonlinkPartition(InputPartition):
    """Self-contained read unit — everything an executor needs, no driver
    state. ``kind``: 'data' (live rows of one file), 'dv-pre' (pre-image
    rows of one file's newly deleted positions), 'eq-keys' (key-only
    delete events from one equality-delete file)."""

    kind: str
    data_path: str | None
    schema_json: str
    name_to_id: dict | None
    identity: list
    dv_files: list = field(default_factory=list)  # [(path, fmt)]
    eq_files: list = field(default_factory=list)  # [path, ...]
    change: tuple | None = None  # (op, lsn) for cdc partitions
    bounds: dict | None = None  # pushed per-column [lo, hi] (read pruning)
    project: list | None = None  # final output columns (schema_json is then
    # the augmented read schema: projection + identity for eq anti-joins)
    preimage: list | None = None  # dv-pre only: materialize just these
    # columns (others NULL) — the scan_changes preimage_columns contract
    members: list | None = None  # kind='data-group': the per-file 'data'
    # partitions this input split covers (small files grouped to
    # ~GROUP_TARGET_BYTES so a 10^9-file table does not mean 10^9 Spark
    # partitions; each member keeps its own eq-file list/seq rule)


#: input-split target for the batch read: data files are bin-packed into
#: partitions of roughly this many bytes (one partition per LARGE file
#: still) — the Python DataSource analog of
#: ``spark.sql.files.maxPartitionBytes`` grouping
GROUP_TARGET_BYTES = 128 * 1024 * 1024


# ------------------------------------------------------------ executor side


def _dv_positions(dv_files: list, target: str):
    """Deleted positions for ``target`` across DV files — executor-side
    analog of table/dv.py's expansion (same framing + crc checks)."""
    import numpy as np

    from moonlink_spark.table.dv import DV2, DV2C, _unframe
    from moonlink_spark.table.stats import _open_footer

    tgt = norm_path(target)
    out = []
    for path, fmt in dv_files:
        pf, _ = _open_footer(path)
        t = pf.read()
        if fmt in (DV2, DV2C):
            fps = t.column("file_path").to_pylist()
            bms = t.column("bitmap").to_pylist()
            for fp, bm in zip(fps, bms):
                if norm_path(fp) != tgt:
                    continue
                bits = _unframe(bytes(bm), fp) if fmt == DV2C else bytes(bm)
                arr = np.frombuffer(bits, dtype=np.uint8)
                out.append(np.nonzero(np.unpackbits(arr, bitorder="little"))[0])
        else:  # v1: (file_path, pos) rows
            fps = t.column("file_path").to_pylist()
            pos = t.column("pos").to_pylist()
            out.append(
                np.asarray(
                    [p for fp, p in zip(fps, pos) if norm_path(fp) == tgt],
                    dtype=np.int64,
                )
            )
    if not out:
        return np.asarray([], dtype=np.int64)
    return np.unique(np.concatenate([a.astype(np.int64) for a in out]))


def _source_names(file_schema_arrow, fields, name_to_id: dict | None) -> dict:
    """target field name → file column name (or None if absent), under the
    engine's dual resolution: by field id ONLY when the footer ids agree
    with the table's map (foreign ids fall back to names — table/stats.py
    rule), else by name."""
    from moonlink_spark.table.fieldids import footer_field_id_map

    fmap = footer_field_id_map(file_schema_arrow)
    by_id = None
    if fmap is not None and name_to_id:
        if all(name_to_id.get(n) == i for n, i in fmap.items()):
            by_id = {i: n for n, i in fmap.items()}
    out = {}
    for f in fields:
        if by_id is not None:
            out[f.name] = by_id.get((name_to_id or {}).get(f.name))
        elif f.name in file_schema_arrow.names:
            out[f.name] = f.name
        else:
            out[f.name] = None
    return out


def _resolve_columns(
    file_table, schema: StructType, name_to_id: dict | None, srcmap: dict | None = None
):
    """File columns → target schema order with field-id/name resolution,
    NULL fill for absent columns, and widening casts — the executor-side
    mirror of table/scan.py's dual-branch read. Pass ``srcmap`` when it was
    derived from the parquet FOOTER schema — reads through the dataset API
    may strip field-id metadata from the in-memory schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    if srcmap is None:
        srcmap = _source_names(file_table.schema, schema.fields, name_to_id)
    n = file_table.num_rows
    cols = []
    for f in schema.fields:
        src_name = srcmap[f.name]
        want = target.field(f.name).type
        if src_name is None:
            cols.append(pa.nulls(n, type=want))
        else:
            col = file_table.column(src_name)
            cols.append(col.cast(want) if col.type != want else col)
    return pa.table(cols, schema=pa.schema(target))


def _eq_key_rows(eq_files: list, identity: list):
    """Distinct identity-key tuples across equality-delete files."""
    import pyarrow as pa

    from moonlink_spark.table.stats import _open_footer

    tables = []
    for p in eq_files:
        pf, _ = _open_footer(p)
        tables.append(pf.read().select(identity))
    return pa.concat_tables(tables).group_by(identity).aggregate([])


def _read_partition(p: MoonlinkPartition):
    """Yield Arrow RecordBatches for one partition."""
    if p.kind == "data-group":
        for m in p.members:
            yield from _read_partition(m)
        return
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from moonlink_spark.table.stats import _open_footer

    schema = StructType.fromJson(json.loads(p.schema_json))
    cdc_fields = [CHANGE_TYPE_COL, CHANGE_LSN_COL]
    out_schema = schema
    if p.change is not None:
        out_schema = StructType(
            [f for f in schema.fields if f.name not in cdc_fields]
        )

    if p.kind == "eq-keys":
        keys = _eq_key_rows(p.eq_files, p.identity)
        resolved = _resolve_columns(keys, out_schema, None)
    else:
        pos = _dv_positions(p.dv_files, p.data_path) if p.dv_files else None
        if p.kind == "dv-pre" and (pos is None or not len(pos)):
            # the commit's DVs never reference this file — no delete
            # events, and (crucially) no read of the data file at all:
            # dv-pre planning fans out over every prior file, so this
            # guard keeps a delete commit O(referenced files), not
            # O(table bytes)
            return
        pf, _ = _open_footer(p.data_path)
        # row-group pruning from pushed bounds — ONLY when nothing is
        # position-addressed (DV positions index the file's original row
        # order; a pruned read would desync them)
        rg_filter = None
        if p.bounds and p.kind == "data" and not p.dv_files:
            conj = []
            for col, (lo, hi) in p.bounds.items():
                if "." in col or col not in pf.schema_arrow.names:
                    continue
                if lo is not None:
                    conj.append(pc.field(col) >= lo)
                if hi is not None:
                    conj.append(pc.field(col) <= hi)
            for c in conj:
                rg_filter = c if rg_filter is None else rg_filter & c
        # column-pruned read: only the file columns the output (plus any
        # identity columns for the eq anti-join) resolves from. Column
        # subsetting preserves row order/count, so DV positions stay valid.
        srcmap = _source_names(pf.schema_arrow, out_schema.fields, p.name_to_id)
        if p.kind == "dv-pre" and p.preimage is not None:
            # key-only (or caller-chosen) pre-images: unread columns
            # resolve as NULL, schema unchanged — delete consumers that
            # apply by key never move the image payload
            srcmap = {
                name: (src if name in p.preimage else None)
                for name, src in srcmap.items()
            }
        read_cols = [s for s in dict.fromkeys(srcmap.values()) if s is not None]
        t = None
        if rg_filter is not None:
            import pyarrow.dataset as pads

            try:
                t = pads.dataset(norm_path(p.data_path)).to_table(
                    filter=rg_filter, columns=read_cols or None
                )
            except (pa.ArrowInvalid, pa.ArrowNotImplementedError, TypeError):
                t = None  # incomparable bound types etc. — full read below
        if t is None:
            t = pf.read(columns=read_cols) if read_cols else pf.read()
        if p.kind == "dv-pre":
            t = t.take(pa.array(pos, type=pa.int64()))
        elif pos is not None and len(pos):
            keep = np.ones(t.num_rows, dtype=bool)
            keep[pos] = False
            t = t.filter(pa.array(keep))
        resolved = _resolve_columns(t, out_schema, p.name_to_id, srcmap=srcmap)
        if p.kind == "data" and p.eq_files:
            # strictly-older sequence rule applied at planning: only eq
            # files newer than this data file reach the partition
            keys = _eq_key_rows(p.eq_files, p.identity)
            if keys.num_rows:
                marker = "__ml_eq"
                keys = keys.append_column(
                    marker, pa.array([True] * keys.num_rows)
                )
                joined = resolved.join(
                    keys, keys=p.identity, join_type="left outer",
                    right_suffix="_r",
                )
                mask = pc.is_null(joined.column(marker))
                resolved = joined.filter(mask).select(
                    [f.name for f in out_schema.fields]
                )

    if p.project:
        resolved = resolved.select(p.project)
    if p.change is not None:
        op, lsn = p.change
        n = resolved.num_rows
        resolved = resolved.append_column(
            CHANGE_TYPE_COL, pa.array([op] * n, type=pa.string())
        ).append_column(CHANGE_LSN_COL, pa.array([lsn] * n, type=pa.int64()))
    # normalize the batch schema: joins/selects flip nullability and strip
    # field metadata differently per file, and Arrow's collect stream
    # requires every batch of one partition to carry the IDENTICAL schema —
    # load-bearing for grouped input splits, which interleave many files
    from pyspark.sql.pandas.types import to_arrow_schema as _tas

    by = {f.name: f for f in _tas(out_schema)}
    uniform = pa.schema(
        [
            pa.field(
                n,
                pa.string() if n == CHANGE_TYPE_COL
                else pa.int64() if n == CHANGE_LSN_COL
                else by[n].type,
                nullable=True,
            )
            for n in resolved.column_names
        ]
    )
    resolved = resolved.cast(uniform)
    for b in resolved.to_batches(max_chunksize=65536):
        yield b


# -------------------------------------------------------------- driver side


def _load(options):
    from moonlink_spark.table.catalog import load_table

    path = options.get("path")
    if not path:
        raise ValueError("moonlink datasource requires .load(<table location>)")
    return load_table(path)


def _schema_meta(table):
    from moonlink_spark.schema import table_identity
    from moonlink_spark.table.fieldids import schema_field_id_map

    return (
        json.dumps(table.schema.jsonValue()),
        schema_field_id_map(table.schema),
        table_identity(table),
    )


def _parse_preimage(options, schema: StructType, identity: list) -> list | None:
    """``preimageColumns`` option → validated column list for delete
    pre-images ('keys' = the table's identity columns). Insert events
    always carry full rows; this narrows only what deletes materialize
    (other columns come back NULL, schema unchanged) — the datasource face
    of scan_changes' preimage_columns."""
    raw = options.get("preimagecolumns")
    if not raw:
        return None
    if raw.strip() == "keys":
        return list(identity)
    want = [c.strip() for c in raw.split(",") if c.strip()]
    names = {f.name for f in schema.fields}
    missing = [c for c in want if c not in names]
    if missing:
        raise ValueError(f"preimageColumns names unknown columns {missing}")
    return want


def _projected_schema(base: StructType, cols: str) -> StructType:
    """Validated projection of the table schema from the ``columns``
    option ("a,b,c"). The Python DataSource API has no column-pruning
    hook, so an EXPLICIT projection is how callers keep wide payloads
    (image bytes) off the Arrow transport."""
    want = [c.strip() for c in cols.split(",") if c.strip()]
    by = {f.name: f for f in base.fields}
    missing = [c for c in want if c not in by]
    if missing:
        raise ValueError(f"columns option names unknown columns {missing}")
    return StructType([by[c] for c in want])


def _cdc_schema(schema: StructType) -> StructType:
    return StructType(
        list(schema.fields)
        + [
            StructField(CHANGE_TYPE_COL, StringType()),
            StructField(CHANGE_LSN_COL, LongType()),
        ]
    )


def _group(members: list) -> "MoonlinkPartition":
    """Wrap per-file 'data' partitions into one 'data-group' input split."""
    head = members[0]
    return MoonlinkPartition(
        kind="data-group",
        data_path=None,
        schema_json=head.schema_json,
        name_to_id=head.name_to_id,
        identity=head.identity,
        members=members,
    )


class MoonlinkBatchReader(DataSourceReader):
    def __init__(self, options):
        from moonlink_spark.table.format import DATA, DELETES, EQ_DELETES
        from moonlink_spark.table.scan import check_eq_identity

        t = _load(options)
        snap_id = None
        if options.get("snapshotid"):
            snap_id = int(options["snapshotid"])
        elif options.get("lsn"):
            snap_id = t.snapshot_at_lsn(int(options["lsn"])).snapshot_id
        elif options.get("ref"):
            from moonlink_spark.table.refs import resolve_ref

            snap_id = resolve_ref(t, options["ref"])
        schema_json, name_to_id, identity = _schema_meta(t)
        dv = [
            (e.path, e.stats.get("format"))
            for e in t.entries(snap_id, DELETES)
        ]
        eq_entries = t.entries(snap_id, EQ_DELETES)
        check_eq_identity(eq_entries, identity)
        eqs = [(e.path, e.sequence_number) for e in eq_entries]
        project = None
        if options.get("columns"):
            projected = _projected_schema(t.schema, options["columns"])
            project = [f.name for f in projected.fields]
            aug = list(projected.fields)
            if eqs:
                # eq anti-joins need the identity columns even when
                # projected away — read them, join, select the projection
                by = {f.name: f for f in t.schema.fields}
                aug += [by[k] for k in identity if k not in project]
            schema_json = json.dumps(StructType(aug).jsonValue())
        self._meta = (schema_json, name_to_id, identity, dv, eqs, project)
        self._entries = t.entries(snap_id, DATA)
        self._bounds: dict[str, list] = {}

    def pushFilters(self, filters):
        """Fold comparison filters into per-column [lo, hi] intervals used
        for manifest-stat FILE pruning (the same bounds scan_range prunes
        with — struct leaves arrive as dotted paths). Every filter is
        returned to Spark: pruning is an optimization, never a filter, so
        files lacking bounds and residual rows stay correct."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            col = ".".join(getattr(f, "attribute", ()) or ())
            if not col:
                continue
            b = self._bounds.setdefault(col, [None, None])
            if isinstance(f, EqualTo):
                lo = hi = f.value
            elif isinstance(f, In):
                vals = [v for v in f.value if v is not None]
                if not vals:
                    continue
                lo, hi = min(vals), max(vals)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                lo, hi = f.value, None
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                lo, hi = None, f.value
            else:
                continue
            if lo is not None and (b[0] is None or lo > b[0]):
                b[0] = lo
            if hi is not None and (b[1] is None or hi < b[1]):
                b[1] = hi
        return filters

    def partitions(self):
        from moonlink_spark.table.planning import keep_entries

        schema_json, name_to_id, identity, dv, eqs, project = self._meta
        # the driver executor: DataSource partitioning launches no Spark job
        entries = keep_entries(
            self._entries, {c: [tuple(b)] for c, b in self._bounds.items()}
        )
        per_file = [
            (
                e.file_size_bytes,
                MoonlinkPartition(
                    kind="data",
                    data_path=e.path,
                    schema_json=schema_json,
                    name_to_id=name_to_id,
                    identity=identity,
                    dv_files=dv,
                    eq_files=[p for p, seq in eqs if seq > e.sequence_number],
                    bounds=self._bounds or None,
                    project=project,
                ),
            )
            for e in entries
        ]
        # bin-pack small files into byte-bounded input splits (first fit in
        # manifest order — files committed together stay together): bounds
        # the partition count by table BYTES, not table FILES, so a
        # fragmented 10^9-file table still reads through format("moonlink").
        # The split target scales down to keep >= ~64 splits on mid-size
        # tables (a Python-worker read wants cluster-width parallelism) and
        # caps at GROUP_TARGET_BYTES on large ones.
        total = sum(size for size, _ in per_file)
        target = min(GROUP_TARGET_BYTES, max(16 << 20, total // 64))
        out: list[MoonlinkPartition] = []
        cur: list[MoonlinkPartition] = []
        cur_bytes = 0
        for size, part in per_file:
            if cur and cur_bytes + size > target:
                out.append(cur[0] if len(cur) == 1 else _group(cur))
                cur, cur_bytes = [], 0
            cur.append(part)
            cur_bytes += size
        if cur:
            out.append(cur[0] if len(cur) == 1 else _group(cur))
        return out

    def read(self, partition):
        return _read_partition(partition)


class MoonlinkStreamReader(DataSourceStreamReader):
    """Changelog as a Structured Streaming source: offsets are commit LSNs;
    batch (start, end] replays those commits' row events."""

    def __init__(self, options):
        self._options = options
        t = _load(options)
        self._location = t.location
        self._schema_json, self._name_to_id, self._identity = _schema_meta(t)
        self._eq_mode = options.get("eqdeletes", "error")
        self._preimage = _parse_preimage(options, t.schema, self._identity)

    def _table(self):
        from moonlink_spark.table.catalog import load_table

        return load_table(self._location)

    def initialOffset(self):
        from moonlink_spark.table.changelog import MIN_CHANGELOG_LSN_PROP

        t = self._table()
        if self._options.get("startinglsn") is not None:
            return {"lsn": int(self._options["startinglsn"])}
        # earliest replayable position (above the expiry floor)
        floor = int(t.md.properties.get(MIN_CHANGELOG_LSN_PROP, "0"))
        return {"lsn": floor}

    def latestOffset(self):
        t = self._table()
        return {"lsn": int(t.flush_lsn or 0)}

    def partitions(self, start, end):
        return _changelog_partitions(
            self._table(),
            int(start["lsn"]),
            int(end["lsn"]),
            self._schema_json,
            self._name_to_id,
            self._identity,
            self._eq_mode,
            preimage=self._preimage,
        )

    def read(self, partition):
        return _read_partition(partition)

    def commit(self, end):
        pass


def _changelog_partitions(
    t, lo: int, hi: int, schema_json, name_to_id, identity, eq_mode,
    preimage: list | None = None,
) -> list[MoonlinkPartition]:
    """Plan the (lo, hi] commit window as read partitions — shared by the
    stream source and the batch CDC-window reader. Pure metadata."""
    from moonlink_spark.table.changelog import _changed_snapshots, _is_replace
    from moonlink_spark.table.format import DATA, DELETES, EQ_DELETES
    from moonlink_spark.table.scan import check_eq_identity

    if hi <= lo:
        return []
    parts: list[MoonlinkPartition] = []
    for s in _changed_snapshots(t, lo, hi):
        op = s.summary.get("operation", "")
        if _is_replace(op):
            continue
        lsn = int(s.summary["lsn"])
        data = t.entries(s.snapshot_id, DATA)
        added_data = [e for e in data if e.sequence_number == s.sequence_number]
        added_dels = [
            e
            for e in t.entries(s.snapshot_id, DELETES)
            if e.sequence_number == s.sequence_number
        ]
        added_eqs = [
            e
            for e in t.entries(s.snapshot_id, EQ_DELETES)
            if e.sequence_number == s.sequence_number
        ]
        for e in added_data:
            parts.append(
                MoonlinkPartition(
                    kind="data",
                    data_path=e.path,
                    schema_json=schema_json,
                    name_to_id=name_to_id,
                    identity=identity,
                    change=("insert", lsn),
                )
            )
        if added_dels:
            dv = [(e.path, e.stats.get("format")) for e in added_dels]
            # pre-image files: visible before this commit AND referenced
            # by the new DVs; the reference check happens executor-side
            # (empty take = empty partition), keeping planning pure
            # metadata. Positions enter a DV exactly once (MERGE probes
            # live rows only), so no anti-set is needed.
            for e in data:
                if e.sequence_number < s.sequence_number:
                    parts.append(
                        MoonlinkPartition(
                            kind="dv-pre",
                            data_path=e.path,
                            schema_json=schema_json,
                            name_to_id=name_to_id,
                            identity=identity,
                            dv_files=dv,
                            change=("delete", lsn),
                            preimage=preimage,
                        )
                    )
        if added_eqs:
            check_eq_identity(added_eqs, identity)
            if eq_mode != "keys":
                raise ValueError(
                    "moonlink cdc read: window contains a lazy-MERGE "
                    "equality-delete commit; full pre-images need "
                    "scan_changes (Spark-side). Opt into key-only "
                    'delete events with .option("eqDeletes", "keys").'
                )
            parts.append(
                MoonlinkPartition(
                    kind="eq-keys",
                    data_path=None,
                    schema_json=schema_json,
                    name_to_id=name_to_id,
                    identity=identity,
                    eq_files=[e.path for e in added_eqs],
                    change=("delete", lsn),
                )
            )
    return parts


class MoonlinkChangeReader(DataSourceReader):
    """Batch CDC-window read: ``spark.read.format("moonlink")
    .option("cdc", "true").option("startingLsn", a)[.option("endingLsn",
    b)].load(loc)`` returns the row events of commits in (a, b] — the
    plain-read face of table/changelog.scan_changes, planned and executed
    exactly like the stream source's micro-batches."""

    def __init__(self, options):
        from moonlink_spark.table.changelog import MIN_CHANGELOG_LSN_PROP

        t = _load(options)
        self._schema_json, self._name_to_id, self._identity = _schema_meta(t)
        if options.get("startinglsn") is not None:
            lo = int(options["startinglsn"])
        else:
            lo = int(t.md.properties.get(MIN_CHANGELOG_LSN_PROP, "0"))
        hi = (
            int(options["endinglsn"])
            if options.get("endinglsn") is not None
            else int(t.flush_lsn or 0)
        )
        self._parts = _changelog_partitions(
            t,
            lo,
            hi,
            self._schema_json,
            self._name_to_id,
            self._identity,
            options.get("eqdeletes", "error"),
            preimage=_parse_preimage(options, t.schema, self._identity),
        )

    def partitions(self):
        return self._parts

    def read(self, partition):
        return _read_partition(partition)


# -------------------------------------------------------------- write side


@dataclass
class _WriteMessage(WriterCommitMessage):
    entries: list  # FileEntry dicts for the files this task wrote


def _write_task(iterator, out_dir: str, schema_json: str, name_to_id: dict | None):
    """Executor: arrow batches → ONE parquet data file (field-id stamped)
    under ``out_dir``; returns the manifest entry. Runs entirely in the
    task — no driver involvement until commit."""
    import os
    import uuid

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from moonlink_spark.table.fieldids import ARROW_FIELD_ID_KEY
    from moonlink_spark.table.stats import _footer_stats

    schema = StructType.fromJson(json.loads(schema_json))
    target = to_arrow_schema(schema)
    if name_to_id:
        target = pa.schema(
            [
                f.with_metadata(
                    {ARROW_FIELD_ID_KEY: str(name_to_id[f.name]).encode()}
                )
                for f in target
            ]
        )
    def _align(b):
        cols = []
        for f in target:
            i = b.schema.get_field_index(f.name)
            if i < 0:
                raise ValueError(
                    f"moonlink write: input is missing table column {f.name!r}"
                )
            c = b.column(i)
            cols.append(c.cast(f.type) if c.type != f.type else c)
        return pa.RecordBatch.from_arrays(cols, schema=target)

    batches = [_align(b) for b in iterator]
    if not batches:
        return _WriteMessage(entries=[])
    path = os.path.join(out_dir, f"part-{uuid.uuid4().hex}.parquet")
    # zstd to match the engine's image-profile writer (session.py): payload
    # bytes are already codec-compressed, zstd's incompressible fast path
    # keeps them raw while text columns still shrink
    pq.write_table(
        pa.Table.from_batches(batches, schema=target), path, compression="zstd"
    )
    expected = dict(name_to_id) if name_to_id else None
    pdf = _footer_stats(pd.Series([path]), expected)
    r = pdf.iloc[0]
    return _WriteMessage(
        entries=[
            {
                "content": "data",
                "path": path,
                "record_count": int(r["record_count"]),
                "file_size_bytes": int(r["file_size_bytes"]),
                "sequence_number": -1,
                "stats": json.loads(r["stats_json"]),
                "bucket": None,
            }
        ]
    )


def _entries_from(messages):
    from moonlink_spark.table.format import FileEntry

    out = []
    for m in messages:
        for d in m.entries if m is not None else []:
            out.append(FileEntry(**d))
    return out


def _delete_files(messages):
    import os

    for m in messages:
        for d in m.entries if m is not None else []:
            try:
                os.remove(d["path"])
            except OSError:
                pass


#: snapshot-summary key marking a streaming sink batch — replayed batch ids
#: are detected here and skipped (exactly-once under Spark's checkpoint
#: re-delivery; same role as MERGE's LSN idempotence, operators/merge.py)
STREAM_BATCH_PROP = "stream-batch"


class MoonlinkBatchWriter(DataSourceArrowWriter):
    """``df.write.format("moonlink").mode("append")`` — append-only (the
    engine's mutation path is MERGE; overwrite semantics live there and in
    maintenance, not in a blind writer)."""

    def __init__(self, options, overwrite: bool):
        if overwrite:
            raise ValueError(
                "moonlink write supports mode('append') only — updates/"
                "overwrites go through merge_cdc_batch (CDC semantics)"
            )
        t = _load(options)
        self._location = t.location
        self._out_dir = t.new_data_dir()
        self._schema_json, self._name_to_id, _ = _schema_meta(t)
        self._lsn = int(options["lsn"]) if options.get("lsn") else None

    def write(self, iterator):
        return _write_task(
            iterator, self._out_dir, self._schema_json, self._name_to_id
        )

    def commit(self, messages):
        from moonlink_spark.table.catalog import load_table

        t = load_table(self._location)
        entries = _entries_from(messages)
        if entries:
            # retry-safe: appends reuse the winner's manifests; a derived
            # lsn is recomputed from the refreshed flush_lsn per attempt
            explicit = self._lsn
            t.commit_with_retry(
                "append",
                added=entries,
                lsn=lambda tb: (
                    explicit if explicit is not None else (tb.flush_lsn or 0) + 1
                ),
            )

    def abort(self, messages):
        _delete_files(messages)


class MoonlinkStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("moonlink")`` — exactly-once append sink: each
    micro-batch is one commit whose summary records the batch id; on
    checkpoint-recovery re-delivery the marker is found and the replayed
    files are dropped instead of committed.

    Retention caveat: markers live in snapshot summaries, so snapshot
    expiry must retain more history than the longest possible recovery
    gap — a batch replayed after ITS marker snapshot was expired would
    commit again. Spark's checkpoint makes that window the crash-recovery
    interval (normally minutes), far inside any sane retention."""

    def __init__(self, options):
        t = _load(options)
        self._location = t.location
        self._out_dir = t.new_data_dir()
        self._schema_json, self._name_to_id, _ = _schema_meta(t)
        self._stream_id = options.get("streamid", "moonlink-stream")

    def write(self, iterator):
        return _write_task(
            iterator, self._out_dir, self._schema_json, self._name_to_id
        )

    def commit(self, messages, batchId):
        from moonlink_spark.table.catalog import load_table

        t = load_table(self._location)
        marker = f"{self._stream_id}:{batchId}"
        for s in t.md.snapshots:
            if s.summary.get(STREAM_BATCH_PROP) == marker:
                _delete_files(messages)  # replayed batch — already applied
                return
        entries = _entries_from(messages)
        if entries:
            t.commit_with_retry(
                "append",
                added=entries,
                lsn=lambda tb: (tb.flush_lsn or 0) + 1,
                summary_extra={STREAM_BATCH_PROP: marker},
            )

    def abort(self, messages, batchId):
        _delete_files(messages)


class MoonlinkDataSource(DataSource):
    """``spark.dataSource.register(MoonlinkDataSource)`` then
    ``spark.read.format("moonlink").load(location)`` /
    ``spark.readStream.format("moonlink").option("cdc", "true")
    .load(location)``."""

    @classmethod
    def name(cls):
        return FORMAT_NAME

    def schema(self):
        t = _load(self.options)
        base = t.schema
        cols = self.options.get("columns")
        if cols:
            if self.options.get("cdc") == "true":
                raise ValueError(
                    "columns option is batch-snapshot only — cdc reads "
                    "deliver full row events"
                )
            base = _projected_schema(base, cols)
        if self.options.get("cdc") == "true":
            return _cdc_schema(base)
        return base

    def reader(self, schema):
        if self.options.get("cdc") == "true":
            return MoonlinkChangeReader(self.options)
        return MoonlinkBatchReader(self.options)

    def streamReader(self, schema):
        if self.options.get("cdc") != "true":
            raise ValueError(
                'moonlink readStream requires .option("cdc", "true") — '
                "streams are row-event changelogs (_change_type/_change_lsn)"
            )
        return MoonlinkStreamReader(self.options)

    def writer(self, schema, overwrite):
        return MoonlinkBatchWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite):
        return MoonlinkStreamWriter(self.options)


def register(spark) -> None:
    """Register the 'moonlink' format on this session.

    Also enables ``spark.sql.python.filterPushdown.enabled`` (runtime SQL
    conf, default false): the batch reader implements ``pushFilters`` and
    Spark refuses to plan a pushdown-capable Python source while the flag
    is off. Session-level setup belongs here — registration is already the
    one explicit 'wire this session' call (get_spark sessions arrive with
    it set; this covers foreign sessions)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(MoonlinkDataSource)
