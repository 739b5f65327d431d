"""Spans around layer calls, Spark job attribution, and the arithmetic
the benchmark reports.

A span is opened around each call the benchmark makes into a layer. While
a span is open, every Spark job the driver submits carries the span's id
as its job group, so after the run each job (read back from the status
store) belongs to its innermost span. Spans are kept in memory and
written out once, when the run ends.
"""

from __future__ import annotations

import hashlib
import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# ----------------------------------------------------------- arithmetic


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals, overlaps counted once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int, candidates=(99.9, 99.0, 90.0)) -> float | None:
    """The highest candidate percentile with at least ten samples above it
    among ``n``, or None when there are too few samples for any."""
    for p in candidates:
        if round(n * (100.0 - p) / 100.0, 6) >= 10:  # rounded: 100 - 99.9 is inexact
            return p
    return None


def canon(v) -> str:
    """Engine-neutral rendering of one result value (floats to 9 places,
    integral floats as ints, NULL and NaN spelled out)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def hash_rows(rows) -> str:
    """Order-insensitive hash of result rows (tuples in a fixed column order)."""
    h = hashlib.sha256()
    for d in sorted("|".join(canon(v) for v in row) for row in rows):
        h.update(d.encode())
        h.update(b"\n")
    return h.hexdigest()


def _last_digit(x: float) -> float:
    """One unit in the last decimal place of ``x`` as printed (``repr``)."""
    r = repr(x)
    if "e" in r or "." not in r:
        return abs(x) * 1e-15
    return 10.0 ** -len(r.split(".")[1])


def rows_match(a, b) -> bool:
    """Result rows equal up to order and up to one unit in the last printed
    decimal of a float: a rounded sum can land either side of a rounding
    boundary depending on the order the engine added its terms."""
    if len(a) != len(b):
        return False
    if hash_rows(a) == hash_rows(b):
        return True

    def key(row):
        return (
            tuple(canon(v) for v in row if not isinstance(v, float)),
            tuple(v for v in row if isinstance(v, float)),
        )

    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, (float, int)) and not isinstance(y, bool):
                y = float(y)
                if canon(x) == canon(y):
                    continue
                if math.isnan(x) or math.isnan(y):
                    return False
                if abs(x - y) > 1.000001 * max(_last_digit(x), _last_digit(y)):
                    return False
            elif canon(x) != canon(y):
                return False
    return True


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float | None = None
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part its child spans cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            clipped([(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end)
        )
        out[s.id] = (s.end - s.start) - covered
    return out


def subtree(spans: list[Span], root: int) -> list[Span]:
    """``root`` and every span below it."""
    ids, out = {root}, []
    for s in spans:  # parents are always created before their children
        if s.id == root or s.parent in ids:
            ids.add(s.id)
            out.append(s)
    return out


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    result_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    stages_evicted: int = 0


JOB_COUNTERS = ("stages", "tasks", "run_s", "cpu_s", "gc_s", "result_bytes", "shuffle_bytes", "spill_bytes")


def job_totals(jobs: list[Job]) -> dict[str, float]:
    """Summed counters of ``jobs`` plus the wall time their union covers."""
    out = {"jobs": len(jobs), "job_wall_s": union_length([(j.start, j.end) for j in jobs])}
    for c in JOB_COUNTERS:
        out[c] = sum(getattr(j, c) for j in jobs)
    return out


class Tracer:
    """Records spans and tags Spark jobs with the innermost open span.

    Disabled, it records nothing and sets no job groups, so an untraced
    run pays only a Python call per span."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def open(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.time(), parent, self.run_id, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        return s

    def close(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.time()
        assert self._stack and self._stack[-1] is s, f"span {s.name} closed out of order"
        self._stack.pop()
        self._tag(self._stack[-1] if self._stack else None)

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def _tag(self, s: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(str(s.id), s.name)

    def jobs(self) -> list[Job]:
        """Every finished job of the current session (none when tracing is off)."""
        return read_jobs(self.spark) if self.enabled else []

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def read_jobs(spark) -> list[Job]:
    """Finished jobs tagged with a job group, and their stage counters, from
    the driver's status store."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    listed = store.jobsList(None)
    jobs, seen = [], set()
    for jd in sorted((listed.apply(i) for i in range(listed.size())), key=lambda j: j.jobId()):
        if not (jd.jobGroup().isDefined() and jd.completionTime().isDefined()):
            continue
        j = Job(
            jd.jobId(),
            jd.jobGroup().get(),
            jd.submissionTime().get().getTime() / 1000.0,
            jd.completionTime().get().getTime() / 1000.0,
        )
        ids = jd.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue  # a stage shared by several jobs counts once
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # the store keeps only the newest stages
                j.stages_evicted += 1
                continue
            if st.numCompleteTasks() == 0:
                continue  # skipped: its output came from an earlier job
            seen.add(sid)
            j.stages += 1
            j.tasks += st.numCompleteTasks()
            j.run_s += st.executorRunTime() / 1000.0
            j.cpu_s += st.executorCpuTime() / 1e9
            j.gc_s += st.jvmGcTime() / 1000.0
            j.result_bytes += st.resultSize()
            j.shuffle_bytes += st.shuffleWriteBytes()
            j.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        jobs.append(j)
    return jobs
