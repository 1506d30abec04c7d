"""In-memory spans and the Spark event-log reader behind the traced run.

A span records name, start, end, its parent and the operation it belongs
to (one query, one refresh round).  When a SparkContext is attached, each
span runs its jobs under its own job group, so the event log attributes
every job, stage and task to exactly one span.  Nothing here is imported
by the engine; the benchmark wraps its own calls into each layer.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; with ``sc`` set, scopes Spark jobs to spans."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # the SparkContext whose jobs the spans scope

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            op=op if op is not None else (parent.op if parent else ""),
            start=time.perf_counter(),
            attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{sp.id}", sp.name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the union of its children's intervals."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.dur - covered
    return out


# --- event log -------------------------------------------------------------

PYSEAM_ACCUMS = {
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
    "time to run Python workers": "worker_ms",
}

TASK_FIELDS = (
    "tasks",
    "failed_tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "sched_delay_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "bytes_to_py",
    "bytes_from_py",
    "worker_ms",
)


def find_event_log(log_dir: str, app_id: str) -> str:
    """The plain-text event log of ``app_id`` (rolling off, compression off)."""
    for root, _dirs, files in os.walk(log_dir):
        for name in files:
            if app_id in name and not name.endswith(".inprogress"):
                return os.path.join(root, name)
    raise FileNotFoundError(f"no finished event log for {app_id} under {log_dir}")


def group_metrics(path: str) -> dict[str, dict]:
    """Per job group: jobs, stages and the summed task metrics."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        if group not in out:
            out[group] = {"jobs": 0, "stages": 0, **{k: 0 for k in TASK_FIELDS}}
        return out[group]

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                bucket(group)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"], "")
                bucket(group)["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "")
                b = bucket(group)
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                b["tasks"] += 1
                if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                    b["failed_tasks"] += 1
                run_ms = m.get("Executor Run Time", 0)
                b["task_run_s"] += run_ms / 1e3
                b["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                delay = dur - run_ms - m.get("Executor Deserialize Time", 0) - m.get(
                    "Result Serialization Time", 0
                ) - info.get("Getting Result Time", 0)
                b["sched_delay_s"] += max(0, delay) / 1e3
                b["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in info.get("Accumulables", []):
                    key = PYSEAM_ACCUMS.get(acc.get("Name"))
                    if key:
                        b[key] += int(acc.get("Update") or 0)
    return out


# --- per-layer metrics ---------------------------------------------------------

# the event-log fields the execute layer reports, under the same names
_EXEC_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "sched_delay_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "failed_tasks",
)


def pass_layers(spans: list[Span], groups: dict[str, dict], pass_span: Span) -> dict:
    """Per-layer totals of one pass, from its descendant spans."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    desc, todo = [], list(kids.get(pass_span.id, []))
    while todo:
        s = todo.pop()
        desc.append(s)
        todo.extend(kids.get(s.id, []))
    selft = self_times(spans)
    empty = {k: 0 for k in ("jobs", "stages", *TASK_FIELDS)}

    def g(s: Span) -> dict:
        return groups.get(f"span-{s.id}", empty)

    def total(name: str, field: str | None = None, attr: str | None = None) -> float:
        out = 0.0
        for s in desc:
            if s.name == name:
                out += s.attrs.get(attr, 0) if attr else g(s)[field] if field else selft[s.id]
        return out

    m = {
        "plans.build_s": total("plans.build"),
        "plans.build_jobs": total("plans.build", "jobs"),
        "plans.build_tasks": total("plans.build", "tasks"),
        "execute.exec_s": total("execute.write"),
    }
    for field in _EXEC_FIELDS:
        m[f"execute.{field}"] = total("execute.write", field)
    every = [g(s) for s in desc]
    m["pyseam.bytes_to_py"] = sum(x["bytes_to_py"] for x in every)
    m["pyseam.bytes_from_py"] = sum(x["bytes_from_py"] for x in every)
    m["pyseam.worker_s"] = sum(x["worker_ms"] for x in every) / 1e3
    m["pinning.pins_alive_max"] = max(
        [s.attrs.get("pins", 0) for s in desc] + [pass_span.attrs.get("pins_end", 0)]
    )
    m["pinning.pins_alive_end"] = pass_span.attrs.get("pins_end", 0)
    m["pinning.release_s"] = total("pinning.release")
    m["txn.merge_jobs"] = total("txn.merge", "jobs")
    m["txn.files_rewritten"] = total("txn.merge", attr="files_rewritten")
    m["txn.bytes_written"] = sum(s.attrs.get("bytes_written", 0) for s in desc)
    m["txn.files_live"] = total("txn.snapshot", attr="files_live")
    m["txn.log_versions"] = total("txn.snapshot", attr="log_versions")
    for key, name in (
        ("snapshot_s", "txn.snapshot"),
        ("read_build_s", "txn.read_build"),
        ("read_exec_s", "txn.read_exec"),
        ("optimize_s", "txn.optimize"),
        ("replay_skip_s", "txn.replay_skip"),
    ):
        m[f"txn.{key}"] = total(name)
    # wall time not inside any leaf span: the pass's and its
    # intermediate (query / round) spans' own self time
    uncovered = selft[pass_span.id] + sum(selft[s.id] for s in desc if s.id in kids)
    m["trace.pass_s"] = pass_span.dur
    m["trace.span_coverage"] = 1.0 - uncovered / pass_span.dur
    return m
