"""Tracing for the workload benchmark: layer wrappers, phase labels, the
Spark event-log reader and the process-tree RSS sampler.

The untraced run uses none of this except the RSS sampler. The traced
run wraps calls into the engine's public functions from outside (the
program itself carries no spans), labels every Spark job with the phase
and layer it ran under, and reads the uncompressed event log with
stdlib ``json`` into per-phase stage statistics.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

PHASE_PROP = "perfbench.phase"
PHASES = ("ep2", "ep1", "read", "odata", "curation_build", "curation_write")
STAGE_STATS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "driver_gap_s", "wall_s",
)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
_RSS_INTERVAL_S = 0.1


class Probe:
    """Per-layer accumulators. Every value is recorded under the phase
    that was open when it happened, and reported per occurrence of that
    phase, so runs with different operation counts compare."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.phase: str | None = None
        self.values: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self.occurrences: dict[str, int] = defaultdict(int)
        self.windows: list[tuple[str, float, float]] = []

    @contextlib.contextmanager
    def in_phase(self, name: str):
        """Label the phase's Spark jobs and record its wall window."""
        self.phase = name
        self.occurrences[name] += 1
        self.sc.setLocalProperty(PHASE_PROP, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.append((name, t0, time.time()))
            self.sc.setLocalProperty(PHASE_PROP, None)
            self.sc.setJobDescription(None)
            self.phase = None

    def add(self, metric: str, value: float, phase: str | None = None) -> None:
        self.values[metric][phase or self.phase or "-"] += value

    def wrap(self, owner, attr: str, metric: str, layer: str,
             before=None, after=None):
        """Replace ``owner.attr`` with a wrapper that times each call
        into ``metric`` (seconds) and ``metric``'s ``_calls`` twin,
        labels its jobs ``<phase>:<layer>``, and lets ``before``/
        ``after`` hooks record layer counts around the call (outside
        the timed span). Returns an undo callable."""
        inner = getattr(owner, attr)
        probe = self

        @functools.wraps(inner)
        def wrapper(*a, **k):
            ctx = before(*a, **k) if before else None
            probe.sc.setJobDescription(f"{probe.phase}:{layer}")
            t0 = time.perf_counter()
            try:
                return inner(*a, **k)
            finally:
                probe.add(metric, time.perf_counter() - t0)
                probe.add(metric.removesuffix("_s") + "_calls", 1)
                if after:
                    after(ctx, *a, **k)

        setattr(owner, attr, wrapper)
        return lambda: setattr(owner, attr, inner)

    def per_occurrence(self, metric: str,
                       phases: tuple[str, ...] | None = None) -> float:
        """Sum over phases of (total in phase / occurrences of phase)."""
        out = 0.0
        for ph, v in self.values.get(metric, {}).items():
            if phases is not None and ph not in phases:
                continue
            out += v / max(1, self.occurrences.get(ph, 1))
        return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _events(path):
    with open(path) as fh:
        for line in fh:
            yield json.loads(line)


def _busy(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                   if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_event_log(log_dir: str, windows, occurrences) -> dict:
    """Per-phase stage statistics from the (stopped, uncompressed)
    application's event log: ``{phase: {stat: value per occurrence}}``
    plus ``{phase: {"py_sent"|"py_returned": bytes per occurrence}}``
    under the same keys. Jobs are attributed by the phase local
    property they were submitted with; a phase's ``driver_gap_s`` is
    its wall time not covered by any of its stages running."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    stage_phase: dict[int, str] = {}
    acc_names: dict[int, str] = {}
    stats = defaultdict(lambda: defaultdict(float))
    stage_spans = defaultdict(list)
    for ev in _events(files[0]):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            ph = (ev.get("Properties") or {}).get(PHASE_PROP)
            if ph:
                stats[ph]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_phase[sid] = ph
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_names)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            ph = stage_phase.get(si["Stage ID"])
            if ph is None or "Completion Time" not in si:
                continue
            stats[ph]["stages"] += 1
            stage_spans[ph].append((si["Submission Time"] / 1000.0,
                                    si["Completion Time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            ph = stage_phase.get(ev["Stage ID"])
            if ph is None:
                continue
            s = stats[ph]
            s["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            s["executor_run_s"] += _num(m.get("Executor Run Time")) / 1e3
            s["executor_gc_s"] += _num(m.get("JVM GC Time")) / 1e3
            s["spill_bytes"] += (_num(m.get("Memory Bytes Spilled"))
                                 + _num(m.get("Disk Bytes Spilled")))
            r = m.get("Shuffle Read Metrics") or {}
            s["shuffle_read_bytes"] += (_num(r.get("Remote Bytes Read"))
                                        + _num(r.get("Local Bytes Read")))
            w = m.get("Shuffle Write Metrics") or {}
            s["shuffle_write_bytes"] += _num(w.get("Shuffle Bytes Written"))
            s["input_bytes"] += _num(
                (m.get("Input Metrics") or {}).get("Bytes Read"))
            s["output_bytes"] += _num(
                (m.get("Output Metrics") or {}).get("Bytes Written"))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc_names.get(acc.get("ID")) or acc.get("Name")
                if name == PY_SENT:
                    s["py_sent"] += _num(acc.get("Update"))
                elif name == PY_RETURNED:
                    s["py_returned"] += _num(acc.get("Update"))
    out = {}
    for ph in set(stats) | {w[0] for w in windows}:
        wins = [(a, b) for p, a, b in windows if p == ph]
        wall = sum(b - a for a, b in wins)
        busy = sum(_busy(stage_spans[ph], a, b) for a, b in wins)
        n = max(1, occurrences.get(ph, 1))
        row = {k: v / n for k, v in stats[ph].items()}
        row["wall_s"] = wall / n
        row["driver_gap_s"] = (wall - busy) / n
        row["stage_busy_s"] = busy / n
        out[ph] = row
    return out


# ---------------------------------------------------------------------------
# Resident memory of the engine's processes
# ---------------------------------------------------------------------------

def proc_stat(pid) -> list[str] | None:
    """``/proc/<pid>/stat`` fields after the command name (state first,
    then ppid; rss in pages at index 21), or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants() -> list[int]:
    """Every live descendant of this process."""
    kids: dict[int, list[int]] = defaultdict(list)
    for pid in os.listdir("/proc"):
        fields = proc_stat(pid) if pid.isdigit() else None
        if fields is not None:
            kids[int(fields[1])].append(int(pid))
    out, todo = [], list(kids[os.getpid()])
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids[p])
    return out


class RssSampler:
    """Peak summed RSS of every descendant of this process (the driver
    JVM, the PySpark daemon and its Python workers), sampled from
    ``/proc`` on a background thread inside its ``with`` block. The
    benchmark's own interpreter (input generation, the loopback server)
    is not a descendant of itself and is excluded."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        return sum(int(f[21]) * self._page for f in map(
            proc_stat, descendants()) if f is not None)

    def _run(self) -> None:
        while not self._stop.wait(_RSS_INTERVAL_S):
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def __enter__(self):
        self.peak_bytes = self._tree_rss()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, name="rss",
                                        daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return False
