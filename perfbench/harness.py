"""Workloads, timed operations, correctness gate and metrics.

Every workload is a fixed list of steps derived from (workload, --seconds),
so a given ``--seconds`` is a fixed amount of work and the seed picks the
inputs: two runs with one seed do the same work on the same rows. Steps of
different types are interleaved inside every round, so a slow host phase
lands on all metrics alike. Nothing is dropped or re-run.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import proc

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "settings.json")) as _f:
    SETTINGS = json.load(_f)

KEY = "image_id"
LOOKUP_KEYS = 8
RANGE_KEYS = 200

# ---------------------------------------------------------------- plans
# A step is (kind, *args). Nominal round lengths were measured on a 4-core
# sandbox VM; they only turn --seconds into a round count.


def plan_cdc_micro(seconds: int) -> list[tuple]:
    """A micro MERGE (128 rows), an 8-key lookup and a 200-key range scan
    every round; k-copy scans through both read paths every second round
    (the read-side control for this write-heavy mix); one auto-maintenance
    tick at the reference thresholds after the last commit, so every read
    sample sees the same un-maintained regime."""
    rounds = max(4, round(seconds / 4.6))
    steps: list[tuple] = []
    for r in range(rounds):
        steps += [("merge", "eager", 32, 64, 32), ("lookup",), ("range",)]
        if r % 2 == 1:
            steps += [("scan", 2), ("ds_scan", 1)]
    steps.append(("auto_maintain",))
    return steps


def plan_merge_on_read(seconds: int) -> list[tuple]:
    """Maintenance off while lazy MERGE batches (512 rows on the 1000-row
    table) add equality deletes on top of the set-up's deletion vectors,
    and reads run through every read path, each applying both kinds of
    delete; then one maintenance tick: publish_iceberg of the fragmented
    snapshot, then optimize_table 'full'."""
    rounds = max(2, round(seconds / 9.5))
    steps: list[tuple] = []
    for _ in range(rounds):
        steps += [
            ("merge", "lazy", 128, 256, 128),
            ("lookup",),
            ("range",),
            ("scan", 2),
            ("lookup",),
            ("range",),
            ("ds_scan", 1),
        ]
    steps.append(("full_maintain",))
    return steps


WORKLOADS = {
    "cdc_micro": dict(plan=plan_cdc_micro, bucketed_base=True, prefix=[], merge_mode="eager"),
    # set-up prefix: one eager batch leaves deletion vectors on the base
    "merge_on_read": dict(
        plan=plan_merge_on_read,
        bucketed_base=False,
        prefix=[("merge", "eager", 128, 256, 128)],
        merge_mode="lazy",
    ),
}

# ------------------------------------------------------------- helpers


def percentile_tail(samples: list[float]) -> tuple[float, float] | None:
    """Highest percentile with at least 10 samples beyond it, as
    (percentile, value); None when fewer than 11 samples."""
    n = len(samples)
    if n < 11:
        return None
    r = n - 11  # 0-based rank with n-1-r = 10 samples above it
    return 100.0 * (r + 1) / n, sorted(samples)[r]


def caption(i: int, ver: int) -> str:
    from moonlink_spark.datagen import caption_for

    c = caption_for(i)
    return c if ver == 0 else f"{c} v{ver}"


def image_id(i: int) -> str:
    return f"img{int(i):012d}"


def payload_bytes():
    """A row's payload: image bytes + caption + key (deletes: key only)."""
    return (
        F.coalesce(F.length("bytes"), F.lit(0))
        + F.coalesce(F.length("caption"), F.lit(0))
        + F.length(KEY)
    ).cast("long")


class Bench:
    """One workload run: the table, the CDC generator (the oracle's live
    map), the RNG for the benchmark's own choices, and the samples."""

    def __init__(self, spark, seed: int, workdir: str):
        from moonlink_spark.cdc import CdcScheduleGenerator

        self.spark = spark
        self.tracer = None  # a spans.Tracer in a traced run
        self.loc = os.path.join(workdir, "table")
        self.export = os.path.join(workdir, "export")
        self.rng = np.random.default_rng(seed)
        self.gen = CdcScheduleGenerator(seed=seed)
        self.samples: dict[str, list[float]] = {}
        self.counts: dict[str, float] = {}
        self.mismatches: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.last_batch: list[int] = []
        self.timed = False
        self._files: dict[str, tuple[int, int]] = {}

    # ------------------------------------------------------- plumbing
    def _span(self, name: str, cpu: bool = False):
        return self.tracer.span(name, cpu) if self.tracer else nullcontext()

    def _record(self, kind: str, seconds: float) -> None:
        if self.timed:
            self.samples.setdefault(kind, []).append(seconds)

    def _add(self, name: str, v: float) -> None:
        if self.timed:
            self.counts[name] = self.counts.get(name, 0) + v

    def _check(self, ok: bool, what: str) -> None:
        if not ok:
            self.mismatches.append(what)

    def _track_files(self) -> int:
        """Bytes of files created under the table and export locations
        since the last call (keyed by path, size and mtime)."""
        now = {**proc.dir_files(self.loc), **proc.dir_files(self.export)}
        new = sum(v[0] for p, v in now.items() if self._files.get(p) != v)
        self._files = now
        return new

    # ---------------------------------------------------------- set-up
    def build_base(self, bucketed: bool) -> None:
        """Base table of ``base_rows`` images in one commit: hash-bucketed
        with key blooms (the compacted layout) or plain flush-sized files."""
        from moonlink_spark.datagen import generate_images
        from moonlink_spark.schema import IMAGES_SCHEMA
        from moonlink_spark.table.catalog import create_table
        from moonlink_spark.table.writer import (
            BUCKETS_PROP,
            write_bucketed_data_files,
            write_data_files,
        )

        n, buckets = SETTINGS["base_rows"], SETTINGS["buckets"]
        self.table = create_table(self.loc, IMAGES_SCHEMA, properties={BUCKETS_PROP: str(buckets)})
        df = generate_images(self.spark, n, partitions=SETTINGS["cores"])
        kw = dict(max_records_per_file=SETTINGS["load_rows_per_file"], field_id_schema=self.table.schema)
        if bucketed:
            entries = write_bucketed_data_files(self.spark, df, self.table.new_data_dir(), KEY, buckets, **kw)
        else:
            entries = write_data_files(self.spark, df, self.table.new_data_dir(), **kw)
        self.table.commit("append", added=entries, lsn=1)
        self.gen.live = {i: 0 for i in range(n)}
        self.gen.next_new = n
        self.gen.next_lsn = 2

    def warmup(self, merge_mode: str) -> dict:
        """Untimed: one merge (in the workload's timed mode), lookup, scan
        and DataSource scan, so the timed steps see compiled plans and
        started Python workers. Returns each step's seconds."""
        from moonlink_spark.datasource import register

        register(self.spark)
        secs = {}
        for step in (("merge", merge_mode, 8, 16, 8), ("lookup",), ("scan", 1), ("ds_scan", 1)):
            t0 = time.perf_counter()
            self.run_step(step)
            secs[f"warmup_{step[0]}_s"] = time.perf_counter() - t0
        return secs

    def start_timed(self) -> None:
        self.timed = True
        self._track_files()

    # ------------------------------------------------------------ steps
    def run_step(self, step: tuple) -> None:
        kind, *args = step
        if self.timed:
            self.attempted += 1
        try:
            getattr(self, f"op_{kind}")(*args)
        except Exception as e:  # noqa: BLE001 — a failed step is counted, the run goes on
            import traceback

            traceback.print_exc()
            if self.timed:
                self.failed += 1
            self.mismatches.append(f"{kind} raised {type(e).__name__}")
        if self.timed and kind in ("merge", "full_maintain", "auto_maintain"):
            self._add("created_bytes", self._track_files())

    def op_merge(self, mode: str, n_ins: int, n_upd: int, n_del: int) -> None:
        from moonlink_spark.cdc import spec_to_spark
        from moonlink_spark.operators.merge import merge_cdc_batch

        spec = self.gen.next_spec(n_ins, n_upd, n_del)
        self.last_batch = [int(i) for i in spec["idx"]]
        df = spec_to_spark(self.spark, spec, partitions=4).cache()
        row = df.agg(F.count("*").alias("n"), F.sum(payload_bytes()).alias("p")).collect()[0]
        with self._span("merge", cpu=True) as sp:
            t0 = time.perf_counter()
            res = merge_cdc_batch(self.spark, self.table, df, self.gen.commit_lsn, mode=mode)
            dt = time.perf_counter() - t0
        df.unpersist()
        self._record("merge", dt)
        self._add("cdc_rows", row["n"])
        self._add("ingested_payload_bytes", row["p"])
        if sp is not None:
            sp.attrs["mode"] = mode
            sp.attrs["metrics"] = res.metrics

    def _lookup_keys(self) -> list[int]:
        batch = self.rng.choice(self.last_batch, size=4, replace=False)
        live = np.fromiter(self.gen.live, dtype=np.int64)
        rand = self.rng.choice(live, size=LOOKUP_KEYS - 4, replace=False)
        return sorted({int(i) for i in np.concatenate([batch, rand])})

    def op_lookup(self) -> None:
        from moonlink_spark.table.scan import scan_values

        idx = self._lookup_keys()
        keys = [image_id(i) for i in idx]
        t0 = time.perf_counter()
        with self._span("scan.plan"):
            df = scan_values(self.spark, self.table, KEY, keys)
        with self._span("scan.exec"):
            rows = df.select(KEY, "caption").collect()
        dt = time.perf_counter() - t0
        self._record("lookup", dt)
        self._trace_inputs(df)
        want = sorted((image_id(i), caption(i, self.gen.live[i])) for i in idx if i in self.gen.live)
        got = sorted((r[KEY], r["caption"]) for r in rows)
        self._check(got == want, f"lookup {keys[:2]}...: {len(got)} rows, want {len(want)}")

    def op_range(self) -> None:
        from moonlink_spark.table.scan import scan_range

        lo = int(self.rng.integers(0, self.gen.next_new - RANGE_KEYS))
        hi = lo + RANGE_KEYS - 1
        t0 = time.perf_counter()
        with self._span("scan.plan"):
            df = scan_range(self.spark, self.table, KEY, image_id(lo), image_id(hi))
        with self._span("scan.exec"):
            n = df.agg(F.count("*")).collect()[0][0]
        dt = time.perf_counter() - t0
        self._record("range", dt)
        want = sum(1 for i in range(lo, hi + 1) if i in self.gen.live)
        self._check(n == want, f"range [{lo},{hi}]: {n} rows, want {want}")

    def _full_agg(self, df):
        # summing payload lengths makes the scan read the image bytes
        return df.agg(
            F.count("*").alias("n"),
            F.sum(F.length("bytes").cast("long")).alias("b"),
        ).collect()[0]

    def op_scan(self, k: int) -> None:
        from moonlink_spark.table.scan import scan

        self.table.refresh()
        nbytes = k * sum(e.file_size_bytes for e in self.table.data_entries())
        t0 = time.perf_counter()
        with self._span("scan.plan"):
            df = scan(self.spark, self.table)
            for _ in range(k - 1):
                df = df.unionAll(scan(self.spark, self.table))
        with self._span("scan.exec"):
            row = self._full_agg(df)
        dt = time.perf_counter() - t0
        self._record("scan", dt)
        self._add("scan_bytes", nbytes)
        self._check(row["n"] == k * len(self.gen.live), f"scan x{k}: {row['n']} rows")

    def op_ds_scan(self, k: int) -> None:
        self.table.refresh()
        nbytes = k * sum(e.file_size_bytes for e in self.table.data_entries())
        t0 = time.perf_counter()
        with self._span("datasource.exec"):
            reader = self.spark.read.format("moonlink")
            df = reader.load(self.loc)
            for _ in range(k - 1):
                df = df.unionAll(reader.load(self.loc))
            row = self._full_agg(df)
        dt = time.perf_counter() - t0
        self._record("ds_scan", dt)
        self._add("ds_scan_bytes", nbytes)
        self._check(row["n"] == k * len(self.gen.live), f"ds_scan x{k}: {row['n']} rows")

    def op_auto_maintain(self) -> None:
        from moonlink_spark.operators.maintenance import auto_optimize

        with self._span("maintenance"):
            t0 = time.perf_counter()
            auto_optimize(self.spark, self.table)
            dt = time.perf_counter() - t0
        self._record("maintain", dt)

    def op_full_maintain(self) -> None:
        """publish_iceberg of the current snapshot (deletes converted to
        Iceberg v2 delete files), then optimize_table('full'); the table's
        logical content must be the same before and after (checked
        untimed)."""
        from moonlink_spark.operators.maintenance import optimize_table
        from moonlink_spark.operators.publish import publish_iceberg

        before = self.checksum_scan()
        with self._span("maintenance"):
            t0 = time.perf_counter()
            publish_iceberg(self.spark, self.table, self.export)
            optimize_table(self.spark, self.table, mode="full", retain_last=2)
            dt = time.perf_counter() - t0
        self._record("maintain", dt)
        after = self.checksum_scan()
        self._check(before == after, f"maintenance changed content: {before} -> {after}")

    def _trace_inputs(self, df) -> None:
        if not self.tracer:
            return
        t0 = time.perf_counter()
        files = df.inputFiles()
        sizes = sum(os.path.getsize(p.removeprefix("file:")) for p in files)
        self.samples.setdefault("lookup.files_read", []).append(len(files))
        self.samples.setdefault("lookup.bytes_read", []).append(sizes)
        self.tracer.overhead_s += time.perf_counter() - t0

    # ------------------------------------------------- correctness gate
    def checksum_scan(self) -> tuple[int, int]:
        from moonlink_spark.table.scan import scan

        self.table.refresh()
        return self._checksum(scan(self.spark, self.table))

    def _checksum(self, df) -> tuple[int, int]:
        row = df.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64(KEY, "caption")).alias("x"),
        ).collect()[0]
        return int(row["n"]), int(row["x"] or 0)

    def gate(self) -> dict:
        """End-of-run check: the table through ``table.scan`` and through
        the DataSource both equal the oracle built from the generator's
        live map; also returns the live rows' payload bytes."""
        from moonlink_spark.table.scan import scan

        live = self.gen.live
        oracle = pd.DataFrame(
            {KEY: [image_id(i) for i in live], "caption": [caption(i, v) for i, v in live.items()]}
        )
        want = self._checksum(self.spark.createDataFrame(oracle))
        self.table.refresh()
        via_scan_df = scan(self.spark, self.table)
        row = via_scan_df.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64(KEY, "caption")).alias("x"),
            F.sum(payload_bytes()).alias("p"),
        ).collect()[0]
        via_scan = (int(row["n"]), int(row["x"] or 0))
        via_ds = self._checksum(self.spark.read.format("moonlink").load(self.loc))
        self._check(via_scan == want, f"table.scan checksum {via_scan} != oracle {want}")
        self._check(via_ds == want, f"DataSource checksum {via_ds} != oracle {want}")
        return {"oracle": want, "scan": via_scan, "datasource": via_ds, "live_payload_bytes": int(row["p"] or 0)}

    # ----------------------------------------------------------- metrics
    def end_to_end(self, setup_s: float, peak_mem: int, live_payload: int) -> dict:
        s, c = self.samples, self.counts
        on_disk = sum(v[0] for v in {**proc.dir_files(self.loc), **proc.dir_files(self.export)}.values())
        m = {
            "setup_s": (setup_s, "s"),
            "cdc_rows_per_s": (c["cdc_rows"] / sum(s["merge"]), "rows/s"),
            "merge_p50_s": (statistics.median(s["merge"]), "s"),
            "lookup_p50_s": (statistics.median(s["lookup"]), "s"),
            "range_p50_s": (statistics.median(s["range"]), "s"),
            "scan_gbps": (c["scan_bytes"] / sum(s["scan"]) / 1e9, "GB/s"),
            "ds_scan_gbps": (c["ds_scan_bytes"] / sum(s["ds_scan"]) / 1e9, "GB/s"),
            "maintain_s": (sum(s["maintain"]), "s"),
            "write_amp": (c["created_bytes"] / c["ingested_payload_bytes"], "ratio"),
            "space_amp": (on_disk / max(live_payload, 1), "ratio"),
            "peak_rss_mb": (peak_mem / 2**20, "MB"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def sample_summary(self) -> dict:
        out = {}
        for kind in ("merge", "lookup", "range", "scan", "ds_scan", "maintain"):
            xs = self.samples.get(kind, [])
            if not xs:
                continue
            tail = percentile_tail(xs)
            out[kind] = {
                "n": len(xs),
                "p50": statistics.median(xs),
                "tail": None if tail is None else {"pct": tail[0], "value": tail[1]},
                "samples": [round(x, 4) for x in xs],
            }
        return out


def fmt(v: float) -> str:
    return f"{v:.4g}" if abs(v) < 1e4 else f"{v:.0f}"
