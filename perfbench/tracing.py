"""Spans around calls into the package's layers, joined to Spark's own
per-job and per-stage accounting.

A span records name, start, end, parent and run id. Entering a span also
makes it the Spark job group of the calling thread, so every job a layer call
submits is attributed to the innermost open span. When the run ends the
tracer reads jobs, stages and tasks back from the driver's status store (the
same store the web UI renders; it is filled even with the UI disabled) and
writes spans and jobs to one JSON file.

Spans are recorded from outside the package only: the benchmark opens spans
around its own calls and, while tracing, wraps the public `Catalog` methods and
`curate.run_stage` (see `instrument`). Nothing here changes what the package
computes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field

from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (  # noqa: E501
    curate,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import (  # noqa: E501
    Catalog,
)


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float
    num_tasks: int
    stage_ids: list[int]


@dataclass
class Stage:
    stage_id: int
    attempt: int
    num_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    fetch_wait_s: float


class Tracer:
    """Spans of one run. Times are epoch seconds so they line up with the
    job submission and completion times Spark records."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"{self.run_id}:{span.span_id}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, time.time(), None,
                 None if parent is None else parent.span_id, self.run_id,
                 attrs)
        self.spans.append(s)
        self._open.append(s)
        self.sc.setJobGroup(self._group(s), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", self._group(parent))

    def subtree(self, root: Span) -> list[Span]:
        """`root` and every span opened inside it."""
        keep = {root.span_id}
        out = [root]
        for s in self.spans[root.span_id + 1:]:
            if s.parent in keep:
                keep.add(s.span_id)
                out.append(s)
        return out

    # -- Spark status store ------------------------------------------------
    def jobs(self, spans: list[Span]) -> list[Job]:
        groups = {self._group(s) for s in spans}
        store = self.sc._jsc.sc().statusStore()
        out = []
        it = store.jobsList(self.sc._jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            g = g.get() if g.isDefined() else None
            if g not in groups or not j.completionTime().isDefined():
                continue
            sids = j.stageIds().iterator()
            stage_ids = []
            while sids.hasNext():
                stage_ids.append(int(sids.next()))
            out.append(Job(int(j.jobId()), g,
                           j.submissionTime().get().getTime() / 1000.0,
                           j.completionTime().get().getTime() / 1000.0,
                           int(j.numTasks()), stage_ids))
        return sorted(out, key=lambda j: j.job_id)

    def stages(self, jobs: list[Job]) -> list[Stage]:
        """Completed stage attempts of `jobs` (skipped stages never ran and
        are absent from the store's completed list)."""
        want = {s for j in jobs for s in j.stage_ids}
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        seq = store.stageList(jvm.java.util.ArrayList(), False, False,
                              self.sc._gateway.new_array(jvm.double, 0),
                              jvm.java.util.ArrayList())
        out = []
        it = seq.iterator()
        while it.hasNext():
            s = it.next()
            if int(s.stageId()) not in want or \
                    s.status().toString() != "COMPLETE":
                continue
            out.append(Stage(int(s.stageId()), int(s.attemptId()),
                             int(s.numTasks()),
                             s.executorRunTime() / 1000.0,
                             s.executorCpuTime() / 1e9,
                             s.jvmGcTime() / 1000.0,
                             int(s.shuffleWriteBytes()),
                             s.shuffleFetchWaitTime() / 1000.0))
        return out

    def task_seconds(self, stage: Stage) -> list[float]:
        store = self.sc._jsc.sc().statusStore()
        seq = store.taskList(stage.stage_id, stage.attempt, 1 << 30)
        out = []
        it = seq.iterator()
        while it.hasNext():
            d = it.next().duration()
            if d.isDefined():
                out.append(d.get() / 1000.0)
        return out

    def dump(self, path: str, jobs: list[Job], **meta) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **meta,
                       "spans": [asdict(s) for s in self.spans],
                       "jobs": [asdict(j) for j in jobs]}, f, indent=1)


def covered_seconds(jobs: list[Job], start: float, end: float) -> float:
    """Length of the union of job intervals, clipped to [start, end]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(j.start, start), min(j.end, end))
                         for j in jobs):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Open a span around every public `Catalog` commit/read and every
    `curate.run_stage` call while the block runs; restore the originals on
    exit so untraced passes in the same process run the bare package."""
    def wrap(owner, attr, name, table_arg):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, key=str(args[table_arg])):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        return owner, attr, orig

    saved = [
        wrap(Catalog, "append", "tables.append", 1),
        wrap(Catalog, "overwrite", "tables.overwrite", 1),
        wrap(Catalog, "read", "tables.read", 2),
        wrap(curate, "run_stage", "curate.run_stage", 0),
    ]
    try:
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)
