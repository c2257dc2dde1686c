"""Spans, self time and the Spark/driver probes of a traced benchmark run.

Everything here observes the program from outside: spans open around the
benchmark's own calls into ``clinical_data_platform_spark``, around the
DataFrame methods that materialize or collect (wrapped only while a traced
pass runs), and around Spark jobs and stages read back from the status
store under the job group the benchmark sets per op.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

from spec import SPARK_UNITS

# DataFrame methods whose calls are counted per layer while tracing.
MATERIALIZE_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")
COLLECT_METHODS = ("collect", "toPandas", "take", "first", "count")
WRITE_METHODS = ("save", "parquet", "csv", "json")


@dataclass
class Span:
    kind: str
    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children.get(i, ()), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        # called with each span as it closes
        self.on_span_end = None

    @contextlib.contextmanager
    def span(self, kind: str, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(kind, name, time.time(), 0.0, parent, dict(attrs)))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()
            if self.on_span_end is not None:
                self.on_span_end(self.spans[idx])

    def open_kinds(self) -> set[str]:
        return {self.spans[i].kind for i in self._stack}

    # -- wrappers around program-facing pyspark methods -------------------

    def _wrap(self, owner, attr: str, kind: str, rows=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            # only the outermost call counts: first() -> take() -> collect()
            if kind in tracer.open_kinds():
                return orig(*args, **kwargs)
            with tracer.span(kind, attr) as sp:
                out = orig(*args, **kwargs)
                if rows is not None:
                    sp.attrs["rows"] = rows(out)
                return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def install_dataframe_probes(self, writes: bool = False) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        for m in MATERIALIZE_METHODS:
            self._wrap(DataFrame, m, "materialize")
        for m in COLLECT_METHODS:
            self._wrap(DataFrame, m, "driver_collect", rows=_row_count)
        if writes:
            for m in WRITE_METHODS:
                self._wrap(DataFrameWriter, m, "write")

    def wrap_function(self, owner, attr: str, kind: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(kind, name, call=attr):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def to_json(self) -> list[dict]:
        st = self_times(self.spans)
        return [
            {
                "id": i,
                "parent": s.parent,
                "kind": s.kind,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "self_s": st[i],
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for i, s in enumerate(self.spans)
        ]


def _row_count(out) -> int:
    """Rows a collecting call brought to the driver: ``first()`` gives one
    ``Row`` (a tuple of its fields), ``count()`` one number."""
    from pyspark.sql import Row

    if out is None:
        return 0
    if isinstance(out, (Row, int, float)) or not hasattr(out, "__len__"):
        return 1
    return len(out)


# -- Spark status store ---------------------------------------------------


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class GroupReader:
    """Reads the finished jobs and stage attempts of one job group from the
    status store, each at most once.

    The store evicts old stages (``spark.ui.retainedStages``), so callers
    read right after each op, or at each boundary inside a long one; the
    listener bus is drained first so the last completion events have been
    applied. A job or stage evicted before it was read is counted in
    ``evicted`` instead. ``read_s`` is the time spent reading, which is
    what tracing adds to a pass."""

    def __init__(self, spark, group: str) -> None:
        self.sc = spark.sparkContext
        self.group = group
        self.jobs: list[dict] = []
        self.evicted = 0
        self.read_s = 0.0
        self._jobs_seen: set[int] = set()
        self._stages_seen: set[int] = set()

    def read(self) -> list[dict]:
        t0 = time.time()
        try:
            return self._read()
        finally:
            self.read_s += time.time() - t0

    def _read(self) -> list[dict]:
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        new = []
        for jid in sorted(set(tracker.getJobIdsForGroup(self.group)) - self._jobs_seen):
            try:
                jd = store.job(jid)
            except Py4JJavaError:
                self._jobs_seen.add(jid)
                self.evicted += 1
                continue
            if not jd.completionTime().isDefined():
                continue  # still running: read at the next boundary
            self._jobs_seen.add(jid)
            job = {
                "id": jid,
                "name": jd.name(),
                "start": _ms(jd.submissionTime()),
                "end": _ms(jd.completionTime()),
                "stages": [],
            }
            info = tracker.getJobInfo(jid)
            for sid in sorted(set(info.stageIds) - self._stages_seen) if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    self.evicted += 1
                    continue
                if sd.status().toString() == "SKIPPED" or not sd.submissionTime().isDefined():
                    continue
                self._stages_seen.add(sid)
                job["stages"].append(
                    {
                        "id": sid,
                        "start": _ms(sd.submissionTime()),
                        "end": _ms(sd.completionTime()) or job["end"],
                        "tasks": sd.numTasks(),
                        "executor_run_s": sd.executorRunTime() / 1e3,
                        "executor_cpu_s": sd.executorCpuTime() / 1e9,
                        "jvm_gc_s": sd.jvmGcTime() / 1e3,
                        "shuffle_read_bytes": sd.shuffleReadBytes(),
                        "shuffle_write_bytes": sd.shuffleWriteBytes(),
                        "input_bytes": sd.inputBytes(),
                        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    }
                )
            new.append(job)
        self.jobs.extend(new)
        return new


def spark_counters(jobs: list[dict], op_start: float, op_end: float) -> dict[str, float]:
    """Roll one op's jobs up into the ``spark.*`` counters; ``driver_s`` is op
    wall time minus the union of its stages' active intervals."""
    stages = [s for j in jobs for s in j["stages"]]
    out = {k: 0.0 for k in SPARK_UNITS}
    out["jobs"] = float(len(jobs))
    out["stages"] = float(len(stages))
    for s in stages:
        for k in ("tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
                  "spill_bytes"):
            out[k] += s[k]
    busy = covered([(s["start"], s["end"]) for s in stages if s["end"]], op_start, op_end)
    out["driver_s"] = (op_end - op_start) - busy
    return out


def attach_spark_spans(tracer: Tracer, op_idx: int, jobs: list[dict]) -> None:
    """Add job and stage spans under the innermost span of the op that was
    open when each job was submitted."""
    op = tracer.spans[op_idx]
    scope = [
        i for i in range(op_idx, len(tracer.spans))
        if i == op_idx or descends(tracer.spans, i, op_idx)
    ]
    for job in jobs:
        start = job["start"] or op.start
        end = job["end"] or op.end
        holders = [i for i in scope if tracer.spans[i].start <= start <= tracer.spans[i].end]
        parent = max(holders, key=lambda i: tracer.spans[i].start) if holders else op_idx
        jidx = len(tracer.spans)
        tracer.spans.append(Span("spark_job", f"job {job['id']}", start, end, parent,
                                 {"call": job.get("name")}))
        for s in job["stages"]:
            tracer.spans.append(
                Span("spark_stage", f"stage {s['id']}", s["start"], s["end"] or end, jidx,
                     {"tasks": s["tasks"]})
            )


def descends(spans: list[Span], i: int, root: int) -> bool:
    p = spans[i].parent
    while p is not None:
        if p == root:
            return True
        p = spans[p].parent
    return False
