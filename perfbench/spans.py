"""Spans, Spark event-log accounting and process-tree memory and CPU sampling.

Spans are recorded by the benchmark around its own calls into the
package's public functions; the package itself is not instrumented.
Each span sets the Spark job group to its id, so every job, stage and
task in the event log can be attributed to the innermost open span.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records nested spans in memory; ``enabled=False`` makes every
    span a no-op so untraced runs pay nothing."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.run = "setup"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"s{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            run=self.run,
            start=time.time(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.children(s)
        return out

    def self_time(self, span: Span) -> float:
        covered = _union_length(
            [(c.start, c.end) for c in self.children(span)], span.start, span.end
        )
        return (span.end - span.start) - covered


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class EventLog:
    """Per-job-group scheduler counters from a Spark JSON event log."""

    def __init__(self, path: str):
        self.job_group: dict[int, str | None] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    self.job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        self.stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = self._stage(info["Stage ID"])
                    st["submit"] = info.get("Submission Time", 0) / 1000.0
                    st["complete"] = info.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = self._stage(ev["Stage ID"])
                    st["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        st["failed"] += 1
                    tm = ev.get("Task Metrics") or {}
                    st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    st["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st["spill_bytes"] += tm.get("Memory Bytes Spilled", 0)

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(
            sid,
            {"tasks": 0, "failed": 0, "cpu_ns": 0, "shuffle_bytes": 0, "spill_bytes": 0,
             "submit": 0.0, "complete": 0.0},
        )

    def counters(self, groups: set[str], start: float = 0.0, end: float = 0.0) -> dict:
        """Scheduler counters for the jobs of ``groups`` (span ids).
        ``driver_s`` is the part of [start, end] in which none of their
        stages was running."""
        jobs = {j for j, g in self.job_group.items() if g in groups}
        stages = {s: st for s, st in self.stages.items() if self.stage_job.get(s) in jobs}
        active = _union_length(
            [(st["submit"], st["complete"]) for st in stages.values() if st["complete"]],
            start,
            end,
        )
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(st["tasks"] for st in stages.values()),
            "failed_tasks": sum(st["failed"] for st in stages.values()),
            "driver_s": (end - start) - active,
            "executor_cpu_s": sum(st["cpu_ns"] for st in stages.values()) / 1e9,
            "shuffle_mb": sum(st["shuffle_bytes"] for st in stages.values()) / 1e6,
            "spill_mb": sum(st["spill_bytes"] for st in stages.values()) / 1e6,
        }


def _parents() -> dict[int, int]:
    """pid → parent pid of every live (non-zombie) process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if fields[0] != "Z":
            parent[int(d)] = int(fields[1])
    return parent


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root``."""
    parent = _parents()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own and reaped children's) used so far
    by ``root`` and its live descendants."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def _hwm_bytes(pid: int) -> int:
    """Peak resident set (VmHWM) of ``pid``; 0 once it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


RSS_INTERVAL_S = 0.5


class RssSampler:
    """Peak resident memory of this process and all its descendants.

    Each process's own peak (VmHWM) is reset on entry (``clear_refs``),
    read every RSS_INTERVAL_S seconds while it lives, and the
    per-process peaks are summed, so a short spike is never missed
    between samples.
    """

    def __init__(self):
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def peak(self) -> int:
        return sum(self._hwm.values())

    def _sample(self):
        for pid in [os.getpid(), *descendants(os.getpid())]:
            self._hwm[pid] = max(self._hwm.get(pid, 0), _hwm_bytes(pid))

    def _loop(self):
        while not self._stop.wait(RSS_INTERVAL_S):
            self._sample()

    def __enter__(self):
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # reset the peak resident set to the current one
            except OSError:
                pass
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
