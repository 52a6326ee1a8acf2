"""Process-tree and host readings from /proc (Linux).

The benchmark's process tree is this Python driver, the JVM it launches and
the JVM's Python workers. CPU is summed over every live process in the tree,
children already reaped included (``cutime``/``cstime``), so a difference
taken around a call is that call's CPU wherever it ran.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def tree_pids(root: int | None = None) -> list[int]:
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s() -> float:
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f:  # utime stime cutime cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_pss_bytes() -> int:
    """Summed proportional set size of the tree: RSS with each shared page
    divided among the processes sharing it, so the Python workers the JVM
    forks from one daemon do not count their shared pages once each."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
    return total


class MemorySampler:
    """Samples the tree's summed PSS every ``interval`` seconds on a daemon
    thread; ``peak`` is the highest sum seen. Reading the JVM's
    smaps_rollup takes about 3 ms, so the interval is not shorter."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes())
        return False


def host_noise() -> dict:
    """Cumulative host counters: CPU steal seconds (/proc/stat) and CPU
    pressure stall microseconds (/proc/pressure/cpu). Subtract two
    readings to get a run's share."""
    out: dict = {}
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        out["steal_s"] = int(cpu[8]) / _TICK
    except (OSError, IndexError):
        out["steal_s"] = None
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                kind, *kv = line.split()
                vals = dict(x.split("=") for x in kv)
                out[f"psi_cpu_{kind}_us"] = int(vals["total"])
                out[f"psi_cpu_{kind}_avg60"] = float(vals["avg60"])
    except (OSError, KeyError, ValueError):
        pass
    return out


def noise_delta(before: dict, after: dict) -> dict:
    out = {}
    for k, v in after.items():
        b = before.get(k)
        if k.endswith("_avg60"):
            out[k] = v  # a rolling average: report the end-of-run value
        elif isinstance(v, (int, float)) and isinstance(b, (int, float)):
            out[k] = round(v - b, 3)
    return out


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every regular file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out
