#!/usr/bin/env python3
"""Maintenance benchmark for moonlink_spark.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_micro --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py                      # every workload, untraced
    python3 perfbench/run.py --trace 1            # every workload, untraced
                                                  # and traced, with overhead

One workload runs in this process on one Spark session (settings.json). The
last line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The exit code is non-zero when the
correctness gate fails or a step raises. Per-run records (metrics, host
noise, settings, samples, spans) go to ``.perfbench/results/``. See
NOTES.md for the workloads and metric definitions.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

WORKLOAD_NAMES = ("cdc_micro", "merge_on_read")
DEADLINE_S = 150  # set-up and steps; shutdown after it must still end within 180 s


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    return ap.parse_args(argv)


class _Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise _Deadline(f"run exceeded {DEADLINE_S}s")


def _start_spark(settings: dict, local_dirs: str):
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    from moonlink_spark.session import get_spark

    conf = {
        "spark.driver.memory": settings["driver_memory"],
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark(
        cores=settings["cores"],
        app_name="perfbench",
        shuffle_partitions=settings["shuffle_partitions"],
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait for every process the run started, the JVM's Python workers too."""
    import proc
    from pyspark import SparkContext

    pids = proc.tree_pids()[1:]
    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
        deadline = time.monotonic() + 15
        while any(_alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in pids:
            if _alive(p):
                os.kill(p, signal.SIGKILL)


def _result_line(correct, attempted, failed, metrics) -> str:
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": metrics}
    )


def _print_metrics(metrics: dict, prefix: str = "") -> None:
    import harness

    for k, v in metrics.items():
        print(f"{prefix}{k:<26} {harness.fmt(v['value']):>12} {v['unit']}")


def run_one(args, root: str) -> int:
    sys.path.insert(0, root)
    import harness
    import proc
    import spans

    cfg = harness.WORKLOADS[args.workload]
    # a fixed path: engine files embed absolute paths (deletion vectors
    # name their data files), so a per-process name would change byte
    # counts between runs of one seed. One run per checkout at a time.
    rundir = os.path.join(root, ".perfbench", "run")
    shutil.rmtree(rundir, ignore_errors=True)
    resdir = os.path.join(root, ".perfbench", "results")
    os.makedirs(os.path.join(rundir, "spark-local"), exist_ok=True)
    os.makedirs(resdir, exist_ok=True)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    noise0 = proc.host_noise()
    spark = None
    tracer = None
    try:
        with proc.MemorySampler() as mem:
            spark = _start_spark(harness.SETTINGS, os.path.join(rundir, "spark-local"))
            bench = harness.Bench(spark, args.seed, rundir)
            phases = {"jvm_s": time.perf_counter() - T0}
            bench.build_base(cfg["bucketed_base"])
            for step in cfg["prefix"]:
                bench.run_step(step)
            phases["base_s"] = time.perf_counter() - T0 - phases["jvm_s"]
            phases.update(bench.warmup(cfg["merge_mode"]))
            if args.trace:
                tracer = spans.Tracer(spark)
                bench.tracer = tracer
                spans.install(tracer)
                gc0 = spans.gc_seconds(spark)
            setup_s = time.perf_counter() - T0
            cpu0 = proc.tree_cpu_s()
            bench.start_timed()
            t_timed = time.perf_counter()
            plan = cfg["plan"](args.seconds)
            for step in plan:
                bench.run_step(step)
            timed_s = time.perf_counter() - t_timed
            cpu_s = proc.tree_cpu_s() - cpu0
            if tracer:
                tracer.unpatch()
                layers = spans.layer_metrics(tracer, bench.samples, spans.gc_seconds(spark) - gc0, cpu_s)
            t_gate = time.perf_counter()
            gate = bench.gate()
            gate["gate_s"] = time.perf_counter() - t_gate
        e2e = bench.end_to_end(setup_s, mem.peak, gate["live_payload_bytes"])
        noise = proc.noise_delta(noise0, proc.host_noise())
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "steps": len(plan),
            "timed_s": timed_s,
            "setup_phases": phases,
            "settings": harness.SETTINGS,
            "end_to_end": e2e,
            "per_layer": layers if tracer else None,
            "host_noise": noise,
            "samples": bench.sample_summary(),
            "counts": bench.counts,
            "gate": gate,
            "mismatches": bench.mismatches,
            "attempted": bench.attempted,
            "failed": bench.failed,
        }
        with open(os.path.join(resdir, tag + ".json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        if tracer:
            tracer.dump(os.path.join(resdir, tag + ".spans.jsonl"))
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(rundir, ignore_errors=True)

    correct = not bench.mismatches and bench.failed == 0
    print(f"workload {args.workload}  seed {args.seed}  steps {len(plan)}  timed {timed_s:.1f}s  "
          f"setup " + " ".join(f"{k} {v:.1f}" for k, v in phases.items()) + "  "
          f"error_rate {bench.failed / max(bench.attempted, 1):.3f} ({bench.failed}/{bench.attempted})")
    for kind, s in record["samples"].items():
        tail = (f"p{s['tail']['pct']:.0f} {s['tail']['value']:.4f}s" if s["tail"]
                else "tail n/a (needs 11+ samples)")
        print(f"  {kind:<9} n={s['n']:<3} p50 {s['p50']:.4f}s  {tail}")
    print("  host noise:", json.dumps(noise))
    for m in bench.mismatches:
        print("  MISMATCH:", m)
    _print_metrics(e2e, "  ")
    if tracer:
        print("# e2e " + json.dumps(e2e))
        _print_metrics(layers, "  ")
    print(_result_line(correct, bench.attempted, bench.failed, layers if tracer else e2e))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process (one Spark session each); with
    ``--trace 1`` each runs untraced, then traced, and the difference in
    every end-to-end metric is the tracing overhead."""
    ok, attempted, failed, merged = True, 0, 0, {}
    for wl in WORKLOAD_NAMES:
        runs = {}
        for tr in ((0, 1) if args.trace else (0,)):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(tr)]
            cp = subprocess.run(cmd, capture_output=True, text=True)
            lines = cp.stdout.strip().splitlines()
            print("\n".join(lines[:-1]), flush=True)
            if cp.returncode != 0 or not lines:
                sys.stderr.write(cp.stderr[-4000:])
                ok = False
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                return 1
            ok = ok and res["correct"]
            attempted += res["attempted"]
            failed += res["failed"]
            if tr == 0:
                runs[0] = res["metrics"]
            else:
                runs[1] = next(json.loads(ln[len("# e2e "):]) for ln in lines if ln.startswith("# e2e "))
                for k, v in res["metrics"].items():
                    merged[f"{wl}.{k}"] = v
        for k, v in runs[0].items():
            merged[f"{wl}.{k}"] = v
        if args.trace:
            print(f"tracing overhead on {wl} (traced - untraced):")
            for k, v in runs[0].items():
                d = runs[1][k]["value"] - v["value"]
                print(f"  {k:<26} {d:+.4g} {v['unit']} ({100 * d / v['value']:+.1f}%)")
    print(_result_line(ok, attempted, failed, merged))
    return 0 if ok else 1


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "moonlink_spark", "__init__.py")):
        print("perfbench: run from the repository root; moonlink_spark/ not found in "
              f"{root}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args, root)


if __name__ == "__main__":
    sys.exit(main())
