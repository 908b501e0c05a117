"""Tracing tools for the benchmark: spans, Spark job groups, the event log,
and a resident-memory sampler.

Spans are recorded from the benchmark's own code, around each call into a
layer of the engine. A traced span also sets a Spark job group, so the
jobs a layer launched can be counted through the status tracker and its
stages found again in the event log.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    group: str = ""  # Spark job group id ("" when untraced)
    jobs: int = 0  # jobs launched while this span was innermost


@dataclass
class Tracer:
    """Records spans in memory. With ``sc`` given it also sets one Spark job
    group per span and counts the jobs launched under it."""

    sc: object | None = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def _set_group(self, group: str | None) -> None:
        # None clears the property on the JVM side
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"{name}#{idx}#{id(self)}" if self.sc is not None else ""
        sp = Span(name, time.monotonic(), 0.0, parent, group)
        self.spans.append(sp)
        self._stack.append(idx)
        if self.sc is not None:
            self._set_group(group)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            if self.sc is not None:
                sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
                self._set_group(self.spans[self._stack[-1]].group if self._stack else None)

    def wall(self, name: str) -> float:
        """Summed duration of every span with this name."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def subtree(self, idx: int) -> list[int]:
        out = [idx]
        for i, s in enumerate(self.spans):
            if s.parent is not None and s.parent in out:
                out.append(i)
        return out

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        kids = sum(c.end - c.start for c in self.spans if c.parent == idx)
        return (s.end - s.start) - kids


@dataclass
class StageStats:
    tasks: list[float] = field(default_factory=list)  # executor run time, s
    shuffle_write: int = 0  # bytes
    spill: int = 0  # disk bytes spilled


def read_event_log(log_dir: str) -> tuple[dict[str, set[int]], dict[int, StageStats]]:
    """Parse the Spark event log(s) in ``log_dir``.

    Returns ``(stages_of_group, stats)``: the stage ids each job group ran,
    and per-stage task run times, shuffle bytes written and disk spill. A
    stage reused from an earlier job (skipped) has no task events, so it
    never appears in ``stats``."""
    stages_of_group: dict[str, set[int]] = {}
    stats: dict[int, StageStats] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stages_of_group.setdefault(group, set()).update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    st = stats.setdefault(ev["Stage ID"], StageStats())
                    st.tasks.append(tm.get("Executor Run Time", 0) / 1e3)
                    st.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st.spill += tm.get("Disk Bytes Spilled", 0)
    return stages_of_group, stats


def task_skew(stages: list[StageStats]) -> float:
    """max/median task run time of the busiest stage (largest summed task
    time) among ``stages``; 1.0 when no stage ran two or more tasks."""
    multi = [s for s in stages if len(s.tasks) >= 2]
    if not multi:
        return 1.0
    busiest = max(multi, key=lambda s: sum(s.tasks))
    med = statistics.median(busiest.tasks)
    return max(busiest.tasks) / med if med > 0 else 1.0


class RssSampler:
    """Samples the summed resident memory of this process and all of its
    descendants (the Python client, the JVM and its Python workers) from
    /proc on a background thread, while ``active`` is set. Processes younger
    than ``min_age`` seconds are left out: a child the JVM is just spawning
    still shares the JVM's memory and would count it twice."""

    def __init__(self, interval: float = 0.1, min_age: float = 1.0):
        self.interval = interval
        self.min_age = min_age
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._hz = os.sysconf("SC_CLK_TCK")
        self.peak_bytes = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _tree(self, pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for task in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{task}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except OSError:
                continue
        return out

    def sample(self) -> int:
        total = 0
        with open("/proc/uptime") as f:
            now = float(f.read().split()[0])
        for p in self._tree(os.getpid()):
            try:
                with open(f"/proc/{p}/stat") as f:
                    started = int(f.read().rsplit(")", 1)[1].split()[19]) / self._hz
                if now - started < self.min_age:
                    continue
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self.active.wait(timeout=0.2):
                self.peak_bytes = max(self.peak_bytes, self.sample())
                time.sleep(self.interval)

    def close(self) -> None:
        self._stop.set()
        self.active.clear()
        self._thread.join(timeout=5)
