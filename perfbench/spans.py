"""Spans around calls into the engine's layers, and the Spark event-log
reader that attributes task metrics to them.

A span records (name, layer, start, end, parent). While a span is the
innermost open one, every Spark job the thread launches carries the
span's id as its ``spark.jobGroup.id``; the event log then ties each
task back to the span, and from there to its layer. Spark work is lazy,
so a job is charged to the span of the call that FORCED it (usually an
action or an eager writer/fit), not to the call that built the plan.

Spans stay in memory; nothing here touches the disk except
``read_event_log``.
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Iterator

ENGINE_PKG = "customer_review__etl_spark"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"span{self.id}"


class Tracer:
    """Records nested spans on one thread and tags Spark jobs with them.

    ``sc`` is the SparkContext whose job group follows the innermost
    span; pass None to record spans without tagging jobs."""

    def __init__(self, sc: Any = None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = sc

    def _tag(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.group, f"{span.layer}:{span.name}")

    @contextmanager
    def span(self, layer: str, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), name, layer,
            parent.id if parent else None, time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(parent)


class NoTracer:
    """The untraced run: same call sites, no spans, no job tags."""

    spans: tuple[Span, ...] = ()

    def span(self, layer: str, name: str):
        return nullcontext()


def instrument(
    tracer: Tracer, targets: Iterable[tuple[Any, str, str]]
) -> Callable[[], None]:
    """Wrap engine functions in spans, from outside the engine.

    ``targets`` holds (module, attribute, layer). The wrapper replaces
    the function in EVERY loaded engine module that binds it, under any
    name, so intra-module calls and ``from x import f`` aliases go
    through the span too. Returns a function that restores the
    originals."""
    undo: list[tuple[Any, str, Any]] = []
    for module, attr, layer in targets:
        orig = getattr(module, attr)
        wrapped = _wrap(tracer, orig, layer, attr)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name.startswith(ENGINE_PKG) or name == "__spark_entry__"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapped)
                    undo.append((mod, key, orig))

    def restore() -> None:
        for mod, key, orig in reversed(undo):
            setattr(mod, key, orig)

    return restore


def _wrap(tracer: Tracer, fn: Callable, layer: str, name: str) -> Callable:
    def wrapped(*args, **kwargs):
        with tracer.span(layer, name):
            return fn(*args, **kwargs)

    wrapped.__wrapped__ = fn  # type: ignore[attr-defined]
    return wrapped


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    Spans come from one thread, so children are disjoint and nested in
    their parent; the self times of a tree then sum to its root's
    duration."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.end - s.start
    return {s.id: (s.end - s.start) - child_time[s.id] for s in spans}


def descendants(spans: list[Span], root: int) -> set[int]:
    """Ids of ``root`` and every span below it."""
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s.id)
    out, todo = set(), [root]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids[i])
    return out


# -- event log ---------------------------------------------------------

TASK_FIELDS = (
    "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_fetch_wait_s", "spill_bytes", "input_bytes", "input_rows",
    "scan_s", "tasks",
)


@dataclass
class GroupStats:
    """Spark work charged to one job group."""

    jobs: int = 0
    task: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0.0)
    )


def _task_metrics(ev: dict) -> dict[str, float]:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    inp = tm.get("Input Metrics") or {}
    scan_ms = sum(
        float(a.get("Update", 0))
        for a in (ev.get("Task Info") or {}).get("Accumulables", [])
        if a.get("Name") == "scan time"
    )
    return {
        "task_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": float(sw.get("Shuffle Bytes Written", 0)),
        "shuffle_fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "spill_bytes": float(
            tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        ),
        "input_bytes": float(inp.get("Bytes Read", 0)),
        "input_rows": float(inp.get("Records Read", 0)),
        "scan_s": scan_ms / 1e3,
        "tasks": 1.0,
    }


def parse_event_log(lines: Iterable[str]) -> dict[str | None, GroupStats]:
    """Group an uncompressed Spark event log by ``spark.jobGroup.id``.

    Jobs are counted at JobStart. A task is charged to the group of the
    stage it ran in, taken from StageSubmitted's properties (or, for a
    stage never submitted under its own properties, from the first job
    that listed it). Jobs and tasks outside any group land under None."""
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str | None] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            groups[g].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            props = ev.get("Properties") or {}
            if "spark.jobGroup.id" in props or sid not in stage_group:
                stage_group[sid] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            acc = groups[g].task
            for k, v in _task_metrics(ev).items():
                acc[k] += v
    return dict(groups)


def read_event_log(path: str) -> dict[str | None, GroupStats]:
    with open(path, encoding="utf-8") as f:
        return parse_event_log(f)
