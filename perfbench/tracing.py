"""Measurement helpers: process-tree CPU/RSS, spans with Spark job groups,
and parsers for the Spark event log and `StreamingQueryProgress` JSON.

Nothing here imports the program; spans are opened by the benchmark
around its own calls into each layer.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# process tree (benchmark process, JVM, Python workers)
# ---------------------------------------------------------------------------

def _stat(pid: int) -> tuple[int, float, int, str] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes, comm)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (field 3); utime..cstime are fields 14..17
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return int(fields[1]), cpu, int(fields[21]) * _PAGE, comm


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = st[0]
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out.extend(frontier)
    return out


def tree_usage(root: int | None = None) -> tuple[float, float, float]:
    """(cpu seconds, rss bytes, cpu seconds of Python workers) summed over
    the live process tree. Workers are the tree's Python processes other
    than `root` itself."""
    root = root or os.getpid()
    cpu = rss = py = 0.0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is None:
            continue
        cpu += st[1]
        rss += st[2]
        if pid != root and st[3].startswith("python"):
            py += st[1]
    return cpu, rss, py


class ResourceMeter:
    """CPU seconds and peak RSS of the process tree over a region. A
    background thread samples RSS every `interval` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_rss = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0 = 0.0
        self.cpu_s = 0.0

    def _sample(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_rss = max(self.peak_rss, tree_usage()[1])

    def __enter__(self) -> "ResourceMeter":
        cpu, rss, _ = tree_usage()
        self._cpu0, self.peak_rss = cpu, rss
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        cpu, rss, _ = tree_usage()
        self.cpu_s = cpu - self._cpu0
        self.peak_rss = max(self.peak_rss, rss)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans around calls into program layers. When enabled, each span also
    sets the Spark job group of the calling thread to the layer name, so
    the event log attributes every job to one layer, and records the
    Python-worker CPU spent while it was open. When disabled, spans cost
    nothing and set nothing."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()

    def current(self) -> str | None:
        """Name of the innermost open span on the calling thread."""
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", name)
        py_cpu0 = tree_usage()[2]
        rec = {"name": name, "parent": parent, "start": time.perf_counter()}
        stack.append(name)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            # a worker that exits inside the span takes its CPU out of the sum
            rec["py_cpu_s"] = max(tree_usage()[2] - py_cpu0, 0.0)
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.spans.append(rec)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of it that
    its child spans (spans naming it as parent, on the same thread) cover."""
    out: dict[str, float] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        covered = sum(
            min(c["end"], s["end"]) - max(c["start"], s["start"])
            for c in spans
            if c["parent"] == s["name"] and c["start"] < s["end"] and c["end"] > s["start"]
        )
        out[s["name"]] = out.get(s["name"], 0.0) + max(dur - covered, 0.0)
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

GENERIC = ("wall_s", "jobs", "tasks", "cpu_s", "gc_s", "shuffle_mb", "spill_mb")


def parse_event_log(lines, rename: dict | None = None) -> dict[str, dict[str, float]]:
    """Aggregate task metrics per job group from Spark event-log JSON lines.

    A job belongs to its `spark.jobGroup.id` property, renamed through
    `rename` (a streaming query's own jobs carry its run id as their
    group). Jobs without a group are skipped. Returns
    {group: {jobs, tasks, cpu_s, gc_s, shuffle_mb, spill_mb}}."""
    stage_layer: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(layer: str) -> dict[str, float]:
        return out.setdefault(layer, {k: 0.0 for k in GENERIC if k != "wall_s"})

    for line in lines:
        if not line.startswith("{"):
            continue  # status marker files share the log directory
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            layer = props.get("spark.jobGroup.id")
            if layer is None:
                continue
            layer = (rename or {}).get(layer, layer)
            acc(layer)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_layer[sid] = layer
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if layer is None or not m:
                continue
            a = acc(layer)
            a["tasks"] += 1
            a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / 1e6
            a["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / 1e6
    return out


def read_event_logs(log_dir: str) -> list[str]:
    """Every line of every event-log file under `log_dir` (Spark 4 writes
    one directory of rolled files per application)."""
    lines: list[str] = []
    for dirpath, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            with open(os.path.join(dirpath, name)) as f:
                lines.extend(f)
    return lines


# ---------------------------------------------------------------------------
# StreamingQueryProgress
# ---------------------------------------------------------------------------

def p50(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def parse_progress(progress: list[dict]) -> dict[str, float]:
    """Summaries of a query's `recentProgress` entries (dicts as returned
    by PySpark, or parsed `StreamingQueryProgress.json`). Only batches that
    read input count toward the per-batch medians; no-data batches still
    add to the total busy time."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in data]
    state = [s for p in progress[-1:] for s in p.get("stateOperators", [])]
    return {
        "batches": float(len(progress)),
        "busy_s": sum(p.get("durationMs", {}).get("triggerExecution", 0)
                      for p in progress) / 1e3,
        "rows": float(sum(p.get("numInputRows", 0) for p in progress)),
        "batch_ms_p50": p50(d.get("triggerExecution", 0) for d in dur),
        "planning_ms_p50": p50(d.get("queryPlanning", 0) for d in dur),
        "addbatch_ms_p50": p50(d.get("addBatch", 0) for d in dur),
        "wal_ms_p50": p50(d.get("walCommit", 0) for d in dur),
        "state_rows": float(sum(s.get("numRowsTotal", 0) for s in state)),
        "state_mb": sum(s.get("memoryUsedBytes", 0) for s in state) / 1e6,
    }
