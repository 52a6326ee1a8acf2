"""SparkSession factory tuned for the maintenance engine, and the one way
the engine hands driver-built rows to Spark (``local_frame``).

local[N] in this sandbox; the same configs are what we'd submit with
``spark-submit --py-files`` on a real cluster (AQE on, Arrow on, shuffle
partitions sized to cores).
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    cores: int | None = None,
    app_name: str = "moonlink_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    profile: str = "image",
) -> SparkSession:
    """``profile="image"`` (default for this engine) tunes the columnar
    reader/row-group sizes for 10-20 KiB binary-payload rows — a 4096-row
    default batch of images is an ~85 MiB humongous allocation per task.
    Pass ``profile="generic"`` for narrow tables to keep Spark's defaults.
    """
    # executor Python workers must be able to import this package (on a real
    # cluster: spark-submit --py-files; in local mode: PYTHONPATH inheritance)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root

    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # zstd, not snappy: image payloads arrive pre-compressed (PNG/JPEG
        # bytes), so page compression buys ~0.4% size; snappy still CHARGES
        # full memcpy+compress on write and decompress on scan (measured on
        # the 30k-image A/B: write 1.9s->0.4s, scan 1.96->2.39 GB/s). zstd's
        # incompressible fast path matches "none" on speed while the text
        # columns (captions) keep compressing.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        # field-id column resolution is ON for the whole session (documented):
        # engine tables stamp parquet.field.id on every column (fieldids.py)
        # and scans resolve by id. Set here, at construction, so scan() never
        # has to mutate a running session's conf mid-query.
        .config("spark.sql.parquet.fieldId.read.enabled", "true")
        # let the Python DataSource (datasource.py) see comparison filters
        # for manifest-stat file pruning (all filters are handed back, so
        # Spark still applies them — pruning only)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # µs-precision timestamps (reference semantics: Timestamp(µs, tz)
        # canonicalized to UTC, moonlink_type.rs:9) — also the only parquet
        # timestamp encoding whose min/max footer stats pyarrow can fold
        # (INT96 has no extractable statistics)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # modest heap: this sandbox VM materializes guest pages lazily and
        # slowly (~10-100 MB/s first-touch), so heap growth mid-job stalls
        # executors in kernel time; 12g is ample for local-mode jobs here.
        # Benchmarks additionally pass -Xms12g -XX:+AlwaysPreTouch to pay the
        # page-materialization cost once at startup (see bench.py).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # every engine read names its files from the manifest, so listing is
        # only a per-path existence/size check. Above the default threshold
        # (32 paths) Spark runs that check as a Spark job with one task per
        # path; on the driver it is a plain stat. Reading N named files,
        # local FS, local[4] (default threshold vs. driver-side):
        # N=50 0.53 s vs 0.08 s; N=500 2.10 s vs 0.15 s; N=4,000 12.9 s vs
        # 0.73 s. Object stores pay one HEAD per path on the driver instead;
        # deployments with very wide reads can lower it through extra_conf.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000")
    )
    if profile == "image":
        # binary-payload tables: a 4096-row columnar batch of ~20 KiB images
        # is an ~85 MiB humongous allocation per task per batch — G1 churns.
        # 1024-row batches keep vectors ~20 MiB; 32 MiB row groups give scans
        # of few-file tables real split parallelism. Scoped to this profile
        # so narrow-table sessions keep Spark's defaults.
        b = b.config("spark.sql.parquet.columnarReaderBatchSize", "1024").config(
            "spark.hadoop.parquet.block.size", str(32 * 1024 * 1024)
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(
    spark: SparkSession,
    rows_or_columns: Sequence[tuple] | Mapping[str, Iterable],
    schema: StructType | str,
) -> DataFrame:
    """A driver-built frame (row tuples, or a dict of column name -> values)
    as a JVM ``LocalRelation``, shipped through Arrow.

    ``spark.createDataFrame(list_of_rows)`` is a ``LogicalRDD`` of pickled
    rows: every query over it starts Python workers to decode them. An
    Arrow table becomes a ``LocalRelation`` instead (whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says), which Spark scans
    and broadcasts with no Python worker. ``schema`` (a ``StructType`` or
    DDL string) types the columns, and an empty input keeps it; a ``None``
    in a non-nullable field raises ``ValueError`` as the list path does."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()
    if isinstance(rows_or_columns, Mapping):
        cols = [list(rows_or_columns[n]) for n in names]
    else:
        rows = list(rows_or_columns)
        bad = next((r for r in rows if len(r) != len(names)), None)
        if bad is not None:
            raise ValueError(f"row {bad!r} does not have {len(names)} fields {names}")
        cols = list(zip(*rows)) or [[]] * len(names)
    arrow_schema = to_arrow_schema(schema)
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)]
    for f, a in zip(schema.fields, arrays):
        if not f.nullable and a.null_count:
            raise ValueError(f"field {f.name}: not nullable, but got None")
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
