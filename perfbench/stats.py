"""Pure helpers of the benchmark: the percentile rule, spans and their
self time, result hashing, and folding a Spark event log into
execution counters.  No Spark import, so the self-tests run without a
session."""

from __future__ import annotations

import hashlib
import json
import math
import statistics
import time
from collections.abc import Iterable
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear interpolation between the closest ranks (numpy's default),
    which moves smoothly when the op at the cut changes."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    h = (len(ordered) - 1) * q
    lo = math.floor(h)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (h - lo) * (ordered[hi] - ordered[lo])


def beyond(values: list[float], q: float) -> int:
    """How many samples lie strictly above the ``q`` percentile."""
    cut = percentile(values, q)
    return sum(1 for v in values if v > cut)


def median(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: Iterable[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once)."""
    cuts = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered = 0.0
    cur_start = cur_end = None
    for s, e in cuts:
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


class Tracer:
    """Spans kept in memory; written out once at the end of a run.
    While ``enabled`` is false, ``span`` records nothing."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        tr = self.tracer
        if not tr.enabled:
            return None
        parent = tr._stack[-1] if tr._stack else None
        self.span = Span(
            len(tr.spans), self.name, time.time(), 0.0, parent, tr.run_id,
            dict(self.attrs),
        )
        tr.spans.append(self.span)
        tr._stack.append(self.span.span_id)
        return self.span

    def __exit__(self, exc_type, exc, tb) -> None:
        if self.span is not None:
            self.span.end = time.time()
            if exc_type is not None:
                self.span.attrs["error"] = exc_type.__name__
            self.tracer._stack.pop()


# ---------------------------------------------------------------------------
# result hashing
# ---------------------------------------------------------------------------


def _canon(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    return str(v)


def canon_rows(rows: Iterable, columns: list[str]) -> list[tuple]:
    """Rows as tuples in column-name order, sorted: order-insensitive
    and independent of the column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


def rows_hash(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def rows_match(a: list[tuple], b: list[tuple]) -> bool:
    """Equal hashes, or, where a float's last digits depend on
    summation order, equal rows up to a 1e-9 relative tolerance."""
    if rows_hash(a) == rows_hash(b):
        return True
    return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

MB = 1024.0 * 1024.0
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    stage_ids: list[int]


@dataclass
class Stage:
    stage_id: int
    job_id: int
    wall_ms: int = 0
    task_ms: list[int] = field(default_factory=list)
    gc_ms: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0


def parse_event_log(lines: Iterable[str]) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                ev["Job ID"],
                props.get("spark.jobGroup.id"),
                ev.get("Submission Time", 0),
                list(ev.get("Stage IDs", [])),
            )
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                # a stage belongs to the job that first submitted it;
                # later jobs list it again but skip it
                stages.setdefault(sid, Stage(sid, job.job_id))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.get(info["Stage ID"])
            if st is not None and "Completion Time" in info:
                st.wall_ms += info["Completion Time"] - info.get(
                    "Submission Time", info["Completion Time"]
                )
        elif kind == "SparkListenerTaskEnd":
            st = stages.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if st is None or not tm:
                continue
            st.task_ms.append(tm.get("Executor Run Time", 0))
            st.gc_ms += tm.get("JVM GC Time", 0)
            st.input_bytes += tm.get("Input Metrics", {}).get("Bytes Read", 0)
            st.output_bytes += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics", {})
            st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            st.shuffle_write += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            for acc in ev.get("Task Info", {}).get("Accumulables", []):
                if acc.get("Name") in (PY_SENT, PY_RETURNED):
                    st.python_bytes += int(acc.get("Update") or 0)
    return jobs, stages


@dataclass
class ExecTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_wait_s: float = 0.0
    spill_mb: float = 0.0
    python_mb: float = 0.0
    # max / median task time in the slowest stage, 1.0 if none ran
    task_skew: float = 1.0


def fold(jobs: dict[int, Job], stages: dict[int, Stage], job_ids: Iterable[int]) -> ExecTotals:
    """Sum the execution counters of ``job_ids`` (stages that ran no
    task, i.e. skipped ones, are not counted)."""
    ids = set(job_ids)
    out = ExecTotals(jobs=len(ids))
    slowest: Stage | None = None
    for st in stages.values():
        if st.job_id not in ids or not st.task_ms:
            continue
        out.stages += 1
        out.tasks += len(st.task_ms)
        out.task_s += sum(st.task_ms) / 1000.0
        out.gc_s += st.gc_ms / 1000.0
        out.input_mb += st.input_bytes / MB
        out.output_mb += st.output_bytes / MB
        out.shuffle_write_mb += st.shuffle_write / MB
        out.shuffle_read_mb += st.shuffle_read / MB
        out.shuffle_wait_s += st.fetch_wait_ms / 1000.0
        out.spill_mb += st.spill_bytes / MB
        out.python_mb += st.python_bytes / MB
        if slowest is None or st.wall_ms > slowest.wall_ms:
            slowest = st
    if slowest is not None:
        mid = statistics.median(slowest.task_ms)
        out.task_skew = max(slowest.task_ms) / mid if mid > 0 else 1.0
    return out


def jobs_in(jobs: dict[int, Job], windows: list[tuple[float, float]]) -> list[int]:
    """Ids of the jobs submitted inside any of the ``(start, end)``
    wall-clock windows, in seconds."""
    return [
        j.job_id
        for j in jobs.values()
        if any(s * 1000.0 <= j.submit_ms <= e * 1000.0 for s, e in windows)
    ]
