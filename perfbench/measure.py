"""Measurement helpers: percentiles, spans, process memory, machine load.

Nothing here imports Spark, so the self-tests run without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager

TAIL_LEVELS = (99.9, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile, refused when fewer than ``MIN_BEYOND``
    samples lie beyond it: a tail read from a handful of samples is
    noise, not a tail."""
    n = len(values)
    rank = max(1, math.ceil(p * n / 100))
    if n == 0 or n - rank < MIN_BEYOND:
        raise ValueError(f"p{p} needs {MIN_BEYOND} samples beyond it; n={n}")
    return sorted(values)[rank - 1]


def tail(values: list[float]) -> tuple[float, float]:
    """(p, value) for the highest level in ``TAIL_LEVELS`` with enough
    samples beyond it."""
    for p in TAIL_LEVELS:
        try:
            return p, percentile(values, p)
        except ValueError:
            continue
    raise ValueError(f"no tail level supported by n={len(values)}")


class Tracer:
    """Spans (name, start, end, parent, run_id) kept in memory and
    written as JSON when the run ends. ``enabled`` is switched per unit
    of work so one run can alternate traced and untraced units."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.cost_s = 0.0  # time spent recording spans: the tracing overhead
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Record ``name`` around the block and yield its id. The parent
        is the innermost open span of this thread, or ``parent`` for
        work that runs on another thread (foreachBatch callbacks)."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack.__dict__.setdefault("s", [])
        if parent is None and stack:
            parent = stack[-1]
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": 0.0, "end": None,
               "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        stack.append(sid)
        rec["start"] = time.perf_counter()
        self.cost_s += rec["start"] - t0
        try:
            yield sid
        finally:
            rec["end"] = t1 = time.perf_counter()
            stack.pop()
            self.cost_s += time.perf_counter() - t1

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of self time per layer (the span name up to the last
    ``.``): each span's duration minus the part of its interval that
    its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out: dict[str, float] = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        clipped = [(max(a, s), min(b, e)) for a, b in children.get(sp["id"], []) if b > s and a < e]
        layer = sp["name"].rsplit(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (e - s) - _union_length(clipped)
    return out


def _proc_tree(root: int, exclude: set[int]) -> dict[int, int | None]:
    """{pid: parent pid} of ``root`` and its descendants, root first."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
    tree: dict[int, int | None] = {root: None}
    frontier = [root]
    while frontier:
        frontier = [c for c, p in parent.items() if p in frontier and c not in exclude]
        tree.update((c, parent[c]) for c in frontier)
    return tree


def descendants(root: int) -> list[int]:
    return list(_proc_tree(root, set()))[1:]


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process left unreaped (a zombie
    under an init that does not reap) counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def resident_pages(tree: dict[int, int | None], statm: dict[int, str]) -> int:
    """Resident pages of a process tree from each process's
    ``/proc/<pid>/statm`` line. A child whose line equals its parent's
    has been caught between fork and exec (the JVM starts its helper
    processes that way) and still shares or copies the parent's address
    space, so it is counted once, with the parent."""
    return sum(int(line.split()[1]) for pid, line in statm.items()
               if line != statm.get(tree.get(pid)))


def tree_rss_bytes(root: int, exclude: set[int]) -> int:
    tree = _proc_tree(root, exclude)
    statm = {}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm[pid] = f.read()
        except OSError:
            continue
    return resident_pages(tree, statm) * os.sysconf("SC_PAGE_SIZE")


class RssPoller:
    """Peak RSS of this process and its descendants (the JVM and its
    Python workers), polled from /proc on a background thread.
    ``exclude`` names subtrees that are load, not system (the generator)."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me, self.exclude))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssPoller":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def other_jvms() -> int:
    """Java processes already running: the main noise source on a
    shared box. Counted before this run starts its own."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0]
        except OSError:
            continue
        n += argv0.endswith(b"java")
    return n


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat. Steal is
    time a virtual CPU was ready but the host ran something else."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return steal, user + nice + system + idle + iowait + irq + softirq + steal


def steal_pct(start: tuple[int, int]) -> float:
    steal, total = cpu_ticks()
    return 100 * (steal - start[0]) / max(1, total - start[1])


def machine_context() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load1": os.getloadavg()[0],
        "other_jvms": other_jvms(),
    }
