"""In-memory span tracer for the traced benchmark run (``--trace 1``).

Spans wrap the engine's public functions from outside the package: the
tracer replaces every binding of a wrapped function in the loaded
``moonlink_spark`` modules, so a caller that did ``from x import f`` looks
up the wrapper too. Each span records name, start, end, parent, Spark jobs
launched (``DAGScheduler.numTotalJobs`` difference, which also counts jobs
started from the engine's own driver threads) and process-tree CPU when
asked. Spans stay in memory and are written out once, at the end.

Self time is a span's duration minus the union of its children's
intervals (children may overlap: MERGE runs its insert write on a second
driver thread while the probe runs).
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from dataclasses import dataclass, field

import proc


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    job0: int = 0
    jobs: int = 0
    cpu_s: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._main = threading.main_thread()
        self._stacks: dict[int, list[Span]] = {}
        self._restore: list[tuple[object, str, object]] = []
        # seconds spent in the tracer's own bookkeeping (py4j job counter,
        # /proc reads, inputFiles) — the in-run part of tracing overhead
        self.overhead_s = 0.0

    # ------------------------------------------------------------ spans
    def _jobs(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def _parent(self) -> Span | None:
        stack = self._stacks.get(threading.get_ident())
        if stack:
            return stack[-1]
        # a worker thread the engine started (its own ThreadPoolExecutor):
        # parent is whatever the main thread has open
        main = self._stacks.get(self._main.ident)
        return main[-1] if main else None

    def begin(self, name: str, cpu: bool = False) -> Span:
        t0 = time.perf_counter()
        parent = self._parent()
        span = Span(next(self._ids), name, parent.sid if parent else None, 0.0)
        span.job0 = self._jobs()
        if cpu:
            span.cpu_s = -proc.tree_cpu_s()
        with self._lock:
            self._stacks.setdefault(threading.get_ident(), []).append(span)
            self.spans.append(span)
        span.start = time.perf_counter()
        self.overhead_s += span.start - t0
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.jobs = self._jobs() - span.job0
        if span.cpu_s is not None:
            span.cpu_s += proc.tree_cpu_s()
        with self._lock:
            self._stacks[threading.get_ident()].remove(span)
        self.overhead_s += time.perf_counter() - span.end

    def span(self, name: str, cpu: bool = False):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer.begin(name, cpu)
                return self.s

            def __exit__(self, *exc):
                tracer.end(self.s)
                return False

        return _Ctx()

    # ---------------------------------------------------------- patching
    def wrap(self, owner, attr: str, name: str, on_result=None, cpu=False, attrs=None):
        """Wrap ``owner.attr`` and every other binding of the same function
        object in loaded ``moonlink_spark`` modules. Each span starts with
        ``attrs``; ``on_result(span, result, args, kwargs)`` may record
        counts on it."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = tracer.begin(name, cpu)
            span.attrs.update(attrs or {})
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer.end(span)
            if on_result is not None:
                t0 = time.perf_counter()
                on_result(span, result, args, kwargs)
                tracer.overhead_s += time.perf_counter() - t0
            return result

        targets = [(owner, attr)]
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("moonlink_spark") or mod is None:
                continue
            for k, v in list(vars(mod).items()):
                if v is orig and (mod, k) != (owner, attr):
                    targets.append((mod, k))
        for obj, k in targets:
            self._restore.append((obj, k, orig))
            setattr(obj, k, wrapper)

    def unpatch(self) -> None:
        for obj, k, orig in reversed(self._restore):
            setattr(obj, k, orig)
        self._restore.clear()

    # ----------------------------------------------------------- output
    def tasks(self, span: Span) -> int:
        """Tasks completed by the Spark jobs a span launched."""
        st = self._sc.statusTracker()
        n = 0
        for job in range(span.job0, span.job0 + span.jobs):
            info = st.getJobInfo(job)
            if info.isEmpty():
                continue
            for stage in info.get().stageIds():
                sinfo = st.getStageInfo(stage)
                if not sinfo.isEmpty():
                    n += sinfo.get().numCompletedTasks()
        return n

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.sid] = (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                rec = {
                    "id": s.sid,
                    "name": s.name,
                    "parent": s.parent,
                    "start": round(s.start, 6),
                    "end": round(s.end, 6),
                    "self_s": round(selfs[s.sid], 6),
                    "jobs": s.jobs,
                }
                if s.cpu_s is not None:
                    rec["cpu_s"] = round(s.cpu_s, 4)
                rec.update(s.attrs)
                f.write(json.dumps(rec) + "\n")


# ------------------------------------------------------------------ layers


def _files_result(span, entries, args, kwargs):
    span.attrs["bytes"] = sum(e.file_size_bytes for e in entries)
    span.attrs["files"] = len(entries)
    if span.attrs["kind"] == "data":
        span.attrs["data_bytes"] = span.attrs["bytes"]


def _compact_result(span, res, args, kwargs):
    if not res.skipped:
        span.attrs.update(
            in_bytes=res.in_bytes, out_bytes=res.out_bytes,
            files_in=res.in_files, files_out=res.out_files,
        )


def _publish_result(span, res, args, kwargs):
    span.attrs["pos_delete_files"] = res.pos_delete_files


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer boundaries. Call after the warmup, so every
    module that binds these functions by name is already imported."""
    from moonlink_spark.operators import compact, expire, manifest_rewrite, publish
    from moonlink_spark.table import bloom, catalog, planning, writer
    from moonlink_spark.table import scan as scan_mod

    tracer.wrap(planning, "plan_data_candidates", "planning.plan")
    tracer.wrap(planning, "plan_data_candidates_union", "planning.plan")
    tracer.wrap(bloom, "prune_by_bloom_distributed", "bloom.prune")
    tracer.wrap(scan_mod, "scan", "scan.build")
    for fn in ("write_data_files", "write_bucketed_data_files", "write_delete_files", "write_eq_delete_files"):
        kind = "data" if "data" in fn else "delete"
        tracer.wrap(writer, fn, "writer.write", _files_result, attrs={"kind": kind})
    tracer.wrap(catalog.Table, "commit_with_retry", "catalog.commit_with_retry")
    tracer.wrap(catalog.Table, "commit", "catalog.commit")
    tracer.wrap(compact, "compact", "compact", _compact_result)
    tracer.wrap(compact, "rewrite_equality_deletes", "compact.resolve_eq")
    tracer.wrap(compact, "rewrite_position_deletes", "compact.rewrite_deletes")
    tracer.wrap(manifest_rewrite, "rewrite_manifests", "manifest_rewrite")
    tracer.wrap(expire, "expire_snapshots", "expire")
    tracer.wrap(publish, "publish_iceberg", "publish", _publish_result)


def gc_seconds(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(tracer: Tracer, samples: dict, gc_s: float, cpu_s: float) -> dict:
    """Per-layer metrics from the timed region's spans. ``*_s`` totals are
    self time (duration minus child spans), summed over the run, unless
    named per call; counts are summed over the run."""
    import statistics

    selfs = tracer.self_times()
    by: dict[str, list[Span]] = {}
    for s in tracer.spans:
        by.setdefault(s.name, []).append(s)

    def self_s(name):
        return sum(selfs[s.sid] for s in by.get(name, []))

    def dur_s(name):
        return sum(s.end - s.start for s in by.get(name, []))

    def jobs(*names):
        return sum(s.jobs for n in names for s in by.get(n, []))

    def attr(name, key):
        return sum(s.attrs.get(key, 0) for s in by.get(name, []))

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    merges = by.get("merge", [])
    eager = [s.attrs["metrics"] for s in merges if s.attrs.get("mode") == "eager"]
    retries = {s.sid for s in by.get("catalog.commit_with_retry", [])}
    attempts = sum(1 for s in by.get("catalog.commit", []) if s.parent in retries)
    m = {
        "merge.spark_jobs": (med([s.jobs for s in merges]), "count"),
        "merge.spark_tasks": (med([tracer.tasks(s) for s in merges]), "count"),
        "merge.cpu_s": (med([s.cpu_s for s in merges]), "s"),
        "merge.self_s": (self_s("merge"), "s"),
        "merge.candidate_ratio": (
            _ratio(sum(x["pruned_candidates"] for x in eager), sum(x["total_data_files"] or 0 for x in eager)),
            "ratio",
        ),
        "merge.bloom_keep_ratio": (
            _ratio(sum(x["pruned_candidates"] for x in eager), sum(x["bloom_pruned_from"] for x in eager)),
            "ratio",
        ),
        "merge.probe_delete_s": (sum(x["probe_delete_sec"] for x in eager), "s"),
        "merge.insert_write_s": (
            sum(s.attrs["metrics"].get("insert_write_sec", s.attrs["metrics"].get("write_sec", 0)) for s in merges),
            "s",
        ),
        "planning.plan_s": (self_s("planning.plan"), "s"),
        "planning.spark_jobs": (jobs("planning.plan"), "count"),
        "bloom.prune_s": (self_s("bloom.prune"), "s"),
        "catalog.commit_s": (dur_s("catalog.commit_with_retry"), "s"),
        "catalog.commit_attempts": (_ratio(attempts, len(retries)), "ratio"),
        "writer.write_s": (self_s("writer.write"), "s"),
        "writer.bytes_written": (attr("writer.write", "bytes"), "bytes"),
        "writer.files_written": (attr("writer.write", "files"), "count"),
        "writer.data_bytes_written": (attr("writer.write", "data_bytes"), "bytes"),
        "compact.s": (self_s("compact") + self_s("compact.resolve_eq") + self_s("compact.rewrite_deletes"), "s"),
        "compact.in_bytes": (attr("compact", "in_bytes"), "bytes"),
        "compact.out_bytes": (attr("compact", "out_bytes"), "bytes"),
        "compact.files_in": (attr("compact", "files_in"), "count"),
        "compact.files_out": (attr("compact", "files_out"), "count"),
        "manifest_rewrite.s": (self_s("manifest_rewrite"), "s"),
        "expire.s": (self_s("expire"), "s"),
        "publish.s": (self_s("publish"), "s"),
        "publish.pos_delete_files": (attr("publish", "pos_delete_files"), "count"),
        "scan.build_s": (self_s("scan.build"), "s"),
        "scan.plan_s": (dur_s("scan.plan"), "s"),
        "scan.exec_s": (dur_s("scan.exec"), "s"),
        "scan.spark_jobs": (jobs("scan.plan", "scan.exec"), "count"),
        "scan.files_read": (med(samples.get("lookup.files_read", [])), "count"),
        "scan.bytes_read": (med(samples.get("lookup.bytes_read", [])), "bytes"),
        "datasource.exec_s": (dur_s("datasource.exec"), "s"),
        "datasource.spark_jobs": (jobs("datasource.exec"), "count"),
        "maintenance.self_s": (self_s("maintenance"), "s"),
        "jvm.gc_s": (gc_s, "s"),
        "proc.cpu_s": (cpu_s, "s"),
        "trace.overhead_s": (tracer.overhead_s, "s"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
