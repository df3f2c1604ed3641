"""Spans around layer calls, Spark event-log attribution, process-tree RSS.

Tracing lives entirely in the benchmark: every call the benchmark makes
into a layer's public function is wrapped in a :class:`Tracer` span
(name, start, end, parent). When the tracer is bound to a SparkContext,
each span also sets its own Spark job group, so the uncompressed event log
written by that context can be keyed back to the span that caused each
job (``spark.jobGroup.id`` in the job and stage properties). Jobs are
attributed to the innermost open span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    failed: bool = False

    @property
    def group(self) -> str:
        return f"lgbench-{self.sid}-{self.name}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``sc`` set → each span runs under its own
    Spark job group; ``sc`` None → timestamps only (the untraced mode)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self._set_group(s)
        try:
            yield s
        except BaseException:
            s.failed = True
            raise
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self._set_group(parent)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a ``name`` span."""
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def total(self, name: str, since: int = 0) -> float:
        return sum(s.wall for s in self.spans[since:] if s.name == name)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans
    (children of one span never overlap: spans are strictly nested)."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.wall
    return {s.sid: s.wall - child[s.sid] for s in spans}


# ---------------------------------------------------------------- event log
@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: int = 0
    spill_disk: int = 0
    # stage id -> executor run times (ms) of its tasks
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))

    def skew(self) -> float:
        """max / median task run time in the heaviest stage (1.0 if none)."""
        if not self.stage_tasks:
            return 1.0
        heaviest = max(self.stage_tasks.values(), key=sum)
        return max(heaviest) / max(statistics.median(heaviest), 1.0)


def parse_event_log(lines) -> dict[str | None, GroupStats]:
    """Aggregate an uncompressed Spark event log (JSON lines) by job group.

    Stages are keyed to a group through their submission properties (the
    job-start properties as a fallback); tasks through their stage. Events
    of jobs outside any group land under ``None``."""
    out: dict[str | None, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str | None] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            out[g].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id", stage_group.get(sid))
            stage_group[sid] = g
            out[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = out[stage_group.get(sid)]
            m = ev.get("Task Metrics") or {}
            run = float(m.get("Executor Run Time", 0))
            g.tasks += 1
            g.run_ms += run
            g.gc_ms += float(m.get("JVM GC Time", 0))
            g.spill_disk += int(m.get("Disk Bytes Spilled", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write += int(sw.get("Shuffle Bytes Written", 0))
            g.stage_tasks[sid].append(run)
    return out


def read_event_logs(log_dir: str) -> dict[str | None, GroupStats]:
    """Parse every finished application log under ``log_dir``."""
    def lines():
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            if path.endswith(".inprogress") or os.path.isdir(path):
                continue
            with open(path) as f:
                yield from f
    return parse_event_log(lines())


def layer_stats(spans: list[Span], groups: dict, cores: int) -> dict[str, dict]:
    """Per span name: inclusive wall, self wall, and the event-log totals of
    the jobs run while the span was innermost."""
    selft = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        d = out.setdefault(s.name, {"wall": 0.0, "self": 0.0, "calls": 0,
                                    "g": GroupStats()})
        d["wall"] += s.wall
        d["self"] += selft[s.sid]
        d["calls"] += 1
        g = groups.get(s.group)
        if g is not None:
            acc = d["g"]
            for k in ("jobs", "stages", "tasks", "run_ms", "gc_ms", "shuffle_write",
                      "spill_disk"):
                setattr(acc, k, getattr(acc, k) + getattr(g, k))
            for sid, runs in g.stage_tasks.items():
                acc.stage_tasks[sid].extend(runs)
    for d in out.values():
        busy = d["g"].run_ms / 1000.0
        d["core_util"] = busy / (d["self"] * cores) if d["self"] > 0 else 0.0
    return out


# ------------------------------------------------------------------- RSS
def _parents() -> dict[int, int]:
    """pid -> parent pid for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    # the command name may hold spaces: fields after ')'
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids = defaultdict(list)
    for pid, ppid in _parents().items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids[pid])
    return out


class RssSampler:
    """Background thread sampling the RSS of a process tree; ``peak`` in
    bytes. The tree is re-listed every ``relist`` seconds (a /proc scan),
    the RSS of its members read every ``period`` seconds."""

    def __init__(self, root: int | None = None, period: float = 0.2, relist: float = 2.0):
        self.root = root or os.getpid()
        self.period = period
        self.relist = relist
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pids, listed = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - listed >= self.relist:
                pids, listed = tree_pids(self.root), now
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)
