"""Per-layer attribution for the traced run.

Spans are recorded from outside the engine: ``Tracer.install`` replaces
the public functions of each layer's modules with wrappers, and the
workloads open ``registry`` and ``exec`` spans around registry calls and
actions themselves. Every span runs under its own Spark job group, so
after the run the Spark event log tells which span started which job;
jobs are charged to the innermost span. A layer's busy time is its
spans' self time (span time minus the time its child spans cover), and
its plan time is the part of that self time during which no Spark job
was running.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

LAYERS = (
    "session", "sources", "projections", "joins", "asof", "windows",
    "dedup", "clustering", "registry", "sinks", "exec",
)
JOB_LAYERS = ("dedup", "clustering", "registry", "sinks", "exec")
BASE_METRICS = ("calls", "busy_s", "plan_s", "jobs")
JOB_METRICS = (
    "job_s", "stages", "tasks", "failed_tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_run_s",
    "executor_cpu_s", "gc_s",
)
EXTRA_METRICS = (
    "session.start_s", "sources.fetches", "sources.fetches_per_key",
    "sinks.files_written", "sinks.bytes_written", "sinks.rows_offered",
    "sinks.rows_inserted", "exec.stages_skipped", "trace.unattributed_s",
    "trace.overhead_s",
)
GROUP_PREFIX = "perfbench-span-"


def layer_metric_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in LAYERS for m in BASE_METRICS]
    names += [f"{layer}.{m}" for layer in JOB_LAYERS for m in JOB_METRICS]
    return names + list(EXTRA_METRICS)


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0


@dataclass
class Trace:
    """What one traced run recorded: spans, and the op intervals they
    fall in (both in epoch seconds, the event log's clock)."""

    spans: list[Span] = field(default_factory=list)
    ops: list[tuple[float, float]] = field(default_factory=list)


class NullTracer:
    """The untraced run: spans cost one no-op context manager."""

    def span(self, layer: str, name: str):
        return contextlib.nullcontext()

    def record_op(self, t0: float, t1: float) -> None:
        pass


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.trace = Trace()
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.trace.spans), layer, name, parent and parent.id, time.time())
        self.trace.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.id}")
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            group = f"{GROUP_PREFIX}{parent.id}" if parent else None
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    def record_op(self, t0: float, t1: float) -> None:
        """The interval of one timed operation."""
        self.trace.ops.append((t0, t1))

    def record(self, layer: str, name: str, t0: float, t1: float) -> None:
        """A top-level span timed by the caller (a call that cannot run
        under a job group, such as starting the session)."""
        self.trace.spans.append(Span(len(self.trace.spans), layer, name, None, t0, t1))

    def install(self, layer_modules: dict[str, list]) -> None:
        """Wrap every public function defined in each module so that a
        call through the module attribute opens a span of its layer."""
        for layer, modules in layer_modules.items():
            for mod in modules:
                for name, fn in vars(mod).copy().items():
                    if (
                        name.startswith("_")
                        or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__
                    ):
                        continue
                    self._patched.append((mod, name, fn))
                    setattr(mod, name, self._wrap(layer, name, fn))

    def uninstall(self) -> None:
        for mod, name, fn in reversed(self._patched):
            setattr(mod, name, fn)
        self._patched.clear()

    def _wrap(self, layer: str, name: str, fn):
        # wraps() keeps the module and qualname, so a wrapped function
        # captured by a Python UDF still pickles by reference
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced


# --- interval arithmetic -------------------------------------------------


def _union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _subtract(span: tuple[float, float], holes) -> list[tuple[float, float]]:
    """``span`` minus a sorted, disjoint list of ``holes``."""
    out, cur = [], span[0]
    for a, b in holes:
        if b <= cur or a >= span[1]:
            continue
        if a > cur:
            out.append((cur, a))
        cur = max(cur, b)
    if cur < span[1]:
        out.append((cur, span[1]))
    return out


def _covered(intervals, cover) -> float:
    """Total length of ``intervals`` that the union ``cover`` covers."""
    total = 0.0
    for a, b in intervals:
        for c, d in cover:
            total += max(0.0, min(b, d) - max(a, c))
    return total


# --- event log -----------------------------------------------------------


def parse_event_log(path: str) -> dict:
    """Read a Spark event log (uncompressed JSON lines) into jobs keyed by
    id: group, interval, stage ids listed at job start, and the metrics of
    the stages that ran."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    ran: set[int] = set()
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(ev.get("Stage IDs", [])),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                ran.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]].append(ev)
    for jid, job in jobs.items():
        if job["end"] is None:
            job["end"] = job["start"]
        own = [s for s in job["stages"] if stage_job[s] == jid]
        job["ran"] = [s for s in own if s in ran]
        job["skipped"] = len(job["stages"]) - len(job["ran"])
        job["metrics"] = _task_metrics(t for s in own for t in tasks.get(s, []))
    return jobs


def _task_metrics(task_events) -> dict:
    m = dict.fromkeys(JOB_METRICS[2:], 0.0)
    for ev in task_events:
        m["tasks"] += 1
        info = ev.get("Task Info") or {}
        if info.get("Failed") or info.get("Killed"):
            m["failed_tasks"] += 1
        tm = ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
        m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    return m


def find_event_log(log_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]


# --- per-layer metrics ---------------------------------------------------


def layer_metrics(trace: Trace, jobs: dict) -> dict[str, float]:
    """Fold spans and event-log jobs into ``<layer>.<metric>`` values."""
    out = dict.fromkeys(
        [f"{layer}.{m}" for layer in LAYERS for m in BASE_METRICS]
        + [f"{layer}.{m}" for layer in JOB_LAYERS for m in JOB_METRICS]
        + ["exec.stages_skipped"],
        0.0,
    )
    by_id = {s.id: s for s in trace.spans}
    children: dict[int, list[Span]] = defaultdict(list)
    for s in trace.spans:
        if s.parent is not None:
            children[s.parent].append(s)
    job_cover = _union((j["start"], j["end"]) for j in jobs.values())
    for s in trace.spans:
        holes = _union((c.t0, c.t1) for c in children[s.id])
        own = _subtract((s.t0, s.t1), holes)
        busy = sum(b - a for a, b in own)
        out[f"{s.layer}.calls"] += 1
        out[f"{s.layer}.busy_s"] += busy
        out[f"{s.layer}.plan_s"] += busy - _covered(own, job_cover)
    for job in jobs.values():
        group = job["group"] or ""
        if not group.startswith(GROUP_PREFIX):
            continue
        layer = by_id[int(group[len(GROUP_PREFIX):])].layer
        out[f"{layer}.jobs"] += 1
        if layer not in JOB_LAYERS:
            continue
        out[f"{layer}.job_s"] += job["end"] - job["start"]
        out[f"{layer}.stages"] += len(job["ran"])
        for k, v in job["metrics"].items():
            out[f"{layer}.{k}"] += v
        if layer == "exec":
            out["exec.stages_skipped"] += job["skipped"]
    top = [(s.t0, s.t1) for s in trace.spans if s.parent is None]
    out["trace.unattributed_s"] = sum(
        (b - a) - _covered([(a, b)], _union(top)) for a, b in trace.ops
    )
    return out
