"""Per-layer tracing for the traced benchmark run.

Two halves, joined by the Spark job description:

* `Tracer` records spans (name, start, end, parent) around calls into the
  package. Entering a span sets `spark.job.description` to the span id in
  the calling thread (local properties are per thread, so jobs launched
  from the pipeline's pool threads attribute to the span the pool thread
  is in). Spans stay in memory until the run ends.
* `load_event_log` + `rollup` read Spark's JSON event log with the stdlib
  and sum each job's task metrics onto the span that launched it. A job
  launched outside every span goes to the op span open at its submission.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

DESC_PREFIX = "perfbench:"

TASK_METRICS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "records_read", "bytes_written",
    "tasks",
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.time()) - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of its interval that its direct
    children cover. Children may overlap each other (pool threads); the
    covered part is their union, clipped to the parent."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.sid and c.end is not None
    ]
    return (span.end - span.start) - union_length([iv for iv in clipped if iv[1] > iv[0]])


class Tracer:
    """Span recorder. `sc` is the SparkContext whose job description the
    spans set; None records spans only (tests)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.op: Span | None = None  # parent for spans opened on a thread with no open span
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self.op
        with self._lock:
            sp = Span(len(self.spans), name, parent.sid if parent else None, time.time(), attrs=attrs)
            self.spans.append(sp)
        prev = self.sc.getLocalProperty("spark.job.description") if self.sc else None
        if self.sc:
            self.sc.setLocalProperty("spark.job.description", f"{DESC_PREFIX}{sp.sid}")
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()
            if self.sc:
                self.sc.setLocalProperty("spark.job.description", prev)

    @contextmanager
    def op_span(self, name: str, **attrs):
        """A root span for one benchmark op; threads without an open span
        parent their spans to it."""
        with self.span(name, **attrs) as sp:
            self.op = sp
            try:
                yield sp
            finally:
                self.op = None

    def wrap(self, owner, attr: str, label, attrs=None) -> None:
        """Replace `owner.attr` with a traced version. `label(args, kwargs)`
        gives the span name (a str is used as is); `attrs(args, kwargs)`,
        when given, the span's attributes."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            name = label(args, kwargs) if callable(label) else label
            with tracer.span(name, **(attrs(args, kwargs) if attrs else {})):
                return orig(*args, **kwargs)

        self.replace(owner, attr, traced)

    def replace(self, owner, attr: str, new) -> None:
        """Set `owner.attr` to `new` until unwrap_all()."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out


# ---- event log ----------------------------------------------------------

def _task_metrics(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    return {
        "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "records_read": inp.get("Records Read", 0),
        "bytes_written": out.get("Bytes Written", 0),
        "tasks": 1,
        "peak_exec_mem": m.get("Peak Execution Memory", 0),
    }


def load_event_log(path: str) -> dict:
    """Jobs (id -> description, submit time s, stage ids, sql execution
    id), per-stage task metric sums and SQL final plans from one Spark
    JSON event log file."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict[str, float]] = {}
    plans: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sql_id = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "submit": ev["Submission Time"] / 1e3,
                    "stages": list(ev.get("Stage IDs", [])),
                    "sql": int(sql_id) if sql_id not in (None, "") else None,
                }
            elif kind == "SparkListenerTaskEnd":
                agg = stages.setdefault(ev["Stage ID"], {})
                for k, v in _task_metrics(ev).items():
                    agg[k] = max(agg.get(k, 0), v) if k == "peak_exec_mem" else agg.get(k, 0) + v
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                # the last plan seen for an execution is its final (AQE) plan
                plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
    return {"jobs": jobs, "stages": stages, "plans": plans}


def round_robin_exchanges(desc: str) -> int:
    """RoundRobin shuffle exchanges in a formatted physical plan (each
    exchange's partitioning appears once, in its node's detail section)."""
    return desc.count("Arguments: RoundRobinPartitioning(")


def job_owner(job: dict, op_spans: list[Span]) -> int | None:
    """Span id a job belongs to: its description when a span set it,
    otherwise the op span open at its submission time."""
    desc = job.get("desc") or ""
    if desc.startswith(DESC_PREFIX):
        return int(desc[len(DESC_PREFIX):])
    for op in op_spans:
        if op.start <= job["submit"] <= (op.end or float("inf")):
            return op.sid
    return None


def rollup(log: dict, op_spans: list[Span]) -> dict[int, dict]:
    """Per span id: its own jobs, stages and summed task metrics (not
    including child spans; `inclusive` adds those)."""
    own: dict[int, dict] = {}
    counted: set[int] = set()  # a stage shared by later jobs counts once
    for _, job in sorted(log["jobs"].items()):
        sid = job_owner(job, op_spans)
        if sid is None:
            continue
        acc = own.setdefault(sid, {"jobs": 0, "stages": 0, "sql": set(), "peak_exec_mem": 0})
        acc["jobs"] += 1
        if job["sql"] is not None:
            acc["sql"].add(job["sql"])
        for st in job["stages"]:
            m = log["stages"].get(st)
            if m is None or st in counted:  # skipped: its output was reused
                continue
            counted.add(st)
            acc["stages"] += 1
            for k in TASK_METRICS:
                acc[k] = acc.get(k, 0) + m.get(k, 0)
            acc["peak_exec_mem"] = max(acc["peak_exec_mem"], m.get("peak_exec_mem", 0))
    return own


def inclusive(own: dict[int, dict], tracer: Tracer, span: Span) -> dict:
    """Sum of `own` over the span and all its descendants."""
    out = {"jobs": 0, "stages": 0, "sql": set(), "peak_exec_mem": 0, **{k: 0 for k in TASK_METRICS}}
    for s in tracer.subtree(span):
        acc = own.get(s.sid)
        if not acc:
            continue
        for k, v in acc.items():
            if k == "sql":
                out["sql"] |= v
            elif k == "peak_exec_mem":
                out[k] = max(out[k], v)
            else:
                out[k] += v
    return out
