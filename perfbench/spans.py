"""Spans, self time, Spark event-log parsing and host-noise markers.

Spans are recorded by the benchmark around its calls into each layer of
the program (never inside the program). They are kept in memory and
written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional


# Spark local property that labels each job with the layer that ran it
LAYER_PROP = "perfbench.layer"


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a no-op
    context manager, so untraced runs pay one attribute check per call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[Dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_times(spans: List[Dict]) -> Dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    direct children cover (overlapping children counted once)."""
    kids: Dict[int, List[Dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], lo), min(c["end"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_name(spans: List[Dict]) -> Dict[str, float]:
    """Total self seconds per span name."""
    st = self_times(spans)
    out: Dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

# display names of the Python SQL metrics (PythonSQLMetrics) as they
# appear in task-end accumulables
PY_METRIC_NAMES = {
    "time to run Python workers": "pythonTotalTime",
    "time to start Python workers": "pythonBootTime",
    "data sent to Python workers": "pythonDataSent",
    "data returned from Python workers": "pythonDataReceived",
}


def _event_lines(path: str) -> Iterator[str]:
    """Lines of an event log: one file, or a rolling-log directory (its
    ``events_<n>_<app>`` files in order)."""
    files = [path]
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in
                 sorted(parts, key=lambda f: int(f.split("_")[1]))]
    for f in files:
        with open(f) as fh:
            yield from (line for line in fh if line.strip())


def parse_event_log(path: str, layer_prop: str) -> List[Dict]:
    """Finished tasks of one Spark event log file, one dict each: layer
    (the ``layer_prop`` local property of the job that ran the task, or
    None), stage, duration_ms, run_ms, cpu_s, gc_ms, shuffle_write_b,
    spill_b, and ``py`` — the Python SQL metric updates of the
    task (milliseconds or bytes) keyed as in ``PY_METRIC_NAMES``."""
    tasks: List[Dict] = []
    stage_layer: Dict[int, Optional[str]] = {}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            lay = (ev.get("Properties") or {}).get(layer_prop)
            for sid in ev.get("Stage IDs", []):
                stage_layer[sid] = lay
            continue
        if kind != "SparkListenerTaskEnd":
            continue
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        py: Dict[str, float] = {}
        for acc in info.get("Accumulables", []):
            key = PY_METRIC_NAMES.get(acc.get("Name"))
            if key is not None:
                py[key] = py.get(key, 0.0) + float(acc.get("Update") or 0)
        tasks.append({
            "layer": stage_layer.get(ev.get("Stage ID")),
            "stage": ev.get("Stage ID"),
            "duration_ms": info.get("Finish Time", 0)
            - info.get("Launch Time", 0),
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_ms": m.get("JVM GC Time", 0),
            "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
            "spill_b": m.get("Memory Bytes Spilled", 0)
            + m.get("Disk Bytes Spilled", 0),
                "py": py,
        })
    return tasks


def task_summary(tasks: List[Dict]) -> Dict[str, float]:
    """Whole-log rollup: CPU, GC share, shuffle/spill volume and task
    duration quantiles (skew = max / median)."""
    if not tasks:
        raise ValueError("event log holds no finished task")
    dur = sorted(t["duration_ms"] for t in tasks)
    run_ms = sum(t["run_ms"] for t in tasks)
    q = statistics.quantiles(dur, n=10) if len(dur) > 1 else [dur[0]] * 9
    med = statistics.median(dur)
    py = {k: sum(t["py"].get(k, 0.0) for t in tasks)
          for k in PY_METRIC_NAMES.values()}
    return {
        "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_share": sum(t["gc_ms"] for t in tasks) / max(run_ms, 1),
        "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / 2**20,
        "spill_mb": sum(t["spill_b"] for t in tasks) / 2**20,
        "task_p50_ms": med,
        "task_p90_ms": q[8],
        "task_skew": dur[-1] / max(med, 1),
        "n_tasks": len(tasks),
        **py,
    }


# ---------------------------------------------------------------------------
# host noise markers and process-tree memory
# ---------------------------------------------------------------------------

def steal_seconds() -> float:
    """Cumulative steal time of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def load_1m() -> float:
    return os.getloadavg()[0]


def _proc_table():
    """(ppid -> child pids, pid -> RSS bytes) over every process."""
    children: Dict[int, List[int]] = {}
    rss: Dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm") as fh:
                pages = int(fh.read().split()[1])
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages * page
    return children, rss


def _tree_rss(root: int) -> Dict[int, int]:
    """RSS bytes of ``root`` and each of its descendants."""
    children, rss = _proc_table()
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return out


def descendants(root: int) -> List[int]:
    """Pids of every live descendant of ``root``."""
    return [p for p in _tree_rss(root) if p != root]


def wait_gone(pids: List[int], timeout: float) -> None:
    """Wait until every pid has exited; kill the ones left at timeout."""
    deadline = time.monotonic() + timeout
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in live:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


class RssSampler:
    """Background thread sampling the RSS of this process tree (this
    process, the JVM, Python workers) every ``interval`` seconds; ``peak_mb`` is the
    largest sum seen and ``peak_procs_mb`` the per-process RSS then.
    A process counts from its second reading on (see ``_read``)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.peak_procs: List[int] = []
        self.readings = 0
        self._seen: set = set()
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self._read(root)
            self._stop.wait(self.interval)

    def _read(self, root: int) -> None:
        procs = _tree_rss(root)
        # a child the JVM spawns (Hadoop's local file system runs `chmod`
        # when its native library is missing) shares the JVM's memory
        # until it execs, and would count the JVM twice; such children
        # live for milliseconds, so one reading never sees them twice
        lasting = {p: b for p, b in procs.items() if p in self._seen}
        self._seen = set(procs)
        total = sum(lasting.values())
        if total > self.peak:
            self.peak = total
            self.peak_procs = sorted(lasting.values(), reverse=True)
        self.readings += 1

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._read(os.getpid())

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    @property
    def peak_procs_mb(self) -> List[float]:
        return [round(b / 2**20, 1) for b in self.peak_procs]
