"""Tracing for the traced run (``--trace 1``): spans around the
benchmark's calls into the package, counts at the same boundaries, a
``/proc`` RSS sampler, and a parser for Spark's event log.

Spans stay in memory and are written once, at exit. With tracing off
the benchmark uses ``NullTracer``, whose calls do nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class NullTracer:
    enabled = False
    overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        yield {}

    def count(self, name: str, value: float) -> None:
        pass

    def event(self, name: str, **fields) -> None:
        pass

    def write(self, path: str) -> None:
        pass


class Tracer:
    """Spans are (name, start, end, parent, run id, counts); a span
    opened inside another names it as its parent. ``overhead_s`` sums
    the tracer's own bookkeeping time plus whatever the caller charges
    to it with ``charge`` (instrumentation calls the untraced run does
    not make)."""

    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.events: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        t_enter = time.perf_counter()
        rec = {
            "name": name,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "run": self.run_id,
            "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_enter
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    @contextlib.contextmanager
    def charge(self):
        """Time a block as tracing overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def event(self, name: str, **fields) -> None:
        """A timestamped record the program reported (not a span of ours),
        e.g. one micro-batch's progress."""
        self.events.append({"name": name, "run": self.run_id, **fields})

    def durations(self, name: str, since: int = 0) -> list[float]:
        """Durations of the spans called ``name``, from span index ``since``."""
        return [s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name and "end" in s]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, "counts": self.counts,
                       "events": self.events}, fh)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the driver JVM, Spark's Python daemon and workers, the appender),
    sampled from ``/proc`` on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval_s)


def tree_rss_kb(root: int) -> int:
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total = 0
    for pid in rss:
        p = pid
        while p > 1:
            if p == root:
                total += rss[pid]
                break
            p = parent.get(p, 0)
    return total


def stage_metrics(event_log_dir: str, group: str) -> dict[str, float]:
    """Executor CPU seconds, shuffle bytes written and bytes spilled
    (memory + disk), summed over the tasks of every stage whose job ran
    under job group ``group`` (``SparkContext.setJobGroup``), from
    the uncompressed JSON event logs under ``event_log_dir`` (Spark 4
    writes each application's log as ``eventlog_v2_<app>/events_*``)."""
    out = {"cpu_s": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0}
    logs = sorted(
        os.path.join(base, n)
        for base, _dirs, names in os.walk(event_log_dir)
        for n in names
        if n.startswith("events_")
    )
    for path in logs:
        stages: set[int] = set()
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get("spark.jobGroup.id") == group:
                        stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages:
                    m = ev.get("Task Metrics") or {}
                    out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out
