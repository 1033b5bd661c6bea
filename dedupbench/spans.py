"""Spans around layer calls, and their attribution from a Spark event log.

A span records a name, its start and end (epoch seconds), its parent and
the CPU the Python workers spent inside it. Spans stay in memory and are
written out once the run ends. After the session has stopped, the event
log is read and every Spark job is attributed to each span whose time
window contains the job's submission time; a job's stages and tasks
follow the job. Attribution is by time window, not by job group: the
pipeline's candidates stage submits its two checkpoint writes from its
own thread pool, and those jobs do not inherit the caller's group.

Counters of a span include its child spans. ``self_s`` is the span's
duration minus the part of it covered by its children.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Callable, Iterator

LAYERS = (
    "assembly",
    "pipeline.exact",
    "signatures",
    "lsh",
    "verify",
    "cluster",
    "doc_dedup",
    "streaming",
)

# layers whose work runs in the JVM alone: their Python CPU is 0 by
# construction, so they do not report it
JVM_ONLY = ("assembly", "pipeline.exact", "lsh")

# (suffix, unit) of the counters every layer reports
LAYER_COUNTERS = (
    ("wall_s", "s"),
    ("self_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("task_s", "s"),
    ("cpu_s", "s"),
    ("py_cpu_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("failed_tasks", "count"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    py_cpu_s: float = 0.0
    counters: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``py_cpu`` returns the cumulative CPU
    seconds of the engine's Python workers, sampled at span edges."""

    def __init__(self, py_cpu: Callable[[], float]):
        self._py_cpu = py_cpu
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(name=name, start=time.time(), parent=parent)
        cpu0 = self._py_cpu()
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.py_cpu_s = self._py_cpu() - cpu0
            sp.end = time.time()

    def self_s(self, index: int) -> float:
        sp = self.spans[index]
        children = sorted(
            (c.start, c.end) for c in self.spans if c.parent == index
        )
        covered, reach = 0.0, sp.start
        for lo, hi in children:
            lo = max(lo, reach)
            if hi > lo:
                covered += hi - lo
                reach = hi
        return (sp.end - sp.start) - covered

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=1)


def event_log_file(log_dir: str) -> str:
    """The single finished event log a stopped local session leaves."""
    files = [
        f for f in os.listdir(log_dir) if not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    return os.path.join(log_dir, files[0])


def attribute(tracer: Tracer, log_path: str) -> None:
    """Fill every span's ``counters`` from the event log."""
    jobs: list[tuple[float, list[int]]] = []
    stage_job: dict[int, int] = {}
    ran_stages: dict[int, int] = {}  # stage id -> completed attempts
    tasks: dict[int, list[dict]] = {}
    with open(log_path) as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                jid = ev["Job ID"]
                jobs.append((ev["Submission Time"] / 1e3, jid))
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif '"SparkListenerStageCompleted"' in line:
                sid = json.loads(line)["Stage Info"]["Stage ID"]
                ran_stages[sid] = ran_stages.get(sid, 0) + 1
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                info = ev.get("Task Info") or {}
                met = ev.get("Task Metrics") or {}
                sr = met.get("Shuffle Read Metrics") or {}
                sw = met.get("Shuffle Write Metrics") or {}
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                tasks.setdefault(ev["Stage ID"], []).append(
                    {
                        "task_s": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3,
                        "cpu_s": met.get("Executor CPU Time", 0) / 1e9,
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": met.get("Disk Bytes Spilled", 0),
                        "failed_tasks": int(
                            bool(info.get("Failed")) or reason != "Success"
                        ),
                    }
                )
    stages_of: dict[int, list[int]] = {}
    for sid, jid in stage_job.items():
        if sid in ran_stages:
            stages_of.setdefault(jid, []).append(sid)
    for i, sp in enumerate(tracer.spans):
        mine = [jid for t, jid in jobs if sp.start <= t < sp.end]
        c = {k: 0 for k, _ in LAYER_COUNTERS}
        c["wall_s"] = sp.end - sp.start
        c["self_s"] = tracer.self_s(i)
        c["py_cpu_s"] = sp.py_cpu_s
        c["jobs"] = len(mine)
        for jid in mine:
            for sid in stages_of.get(jid, []):
                c["stages"] += ran_stages[sid]
                for t in tasks.get(sid, []):
                    c["tasks"] += 1
                    for k, v in t.items():
                        c[k] += v
        sp.counters = c


def layer_metrics(tracer: Tracer) -> dict[str, tuple[float, str]]:
    """``<layer>.<counter>`` -> (value, unit), summed over every span of
    that layer."""
    out = {}
    for layer in LAYERS:
        for k, unit in LAYER_COUNTERS:
            if k == "py_cpu_s" and layer in JVM_ONLY:
                continue
            value = sum(
                s.counters.get(k, 0) for s in tracer.spans if s.name == layer
            )
            out[f"{layer}.{k}"] = (value, unit)
    return out
