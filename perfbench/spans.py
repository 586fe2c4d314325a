"""Spans around the benchmark's calls into the engine, and the Spark
counters of the jobs each span ran.

A span is recorded for every call the workloads make into an
engine module: name, module, start, end and parent.  Jobs are
attributed to spans by job-id window: Spark numbers jobs in submission
order, so the jobs a span ran are exactly those with ids from the first
id free at span start up to the first id free at span end.  Jobs that
an operator submits from helper threads (the overlap legs run without
the caller's job group) fall in the same window, which attribution by
job group would miss.  Job and stage counters are read from the JVM
status store (live with ``spark.ui.enabled=false``) as each span ends,
before Spark's job retention limit can evict them.  Spans stay in
memory until the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: the engine modules the benchmark measures, in report order
MODULES = (
    "catalog",
    "sources",
    "plans.db_copy",
    "sinks.uploader",
    "sinks.formatter",
    "operators.cardinality",
    "operators.incremental",
    "operators.retrieval",
    "cli_curate",
    "operators.media",
    "operators.validate",
)
#: per-module metrics and their units
MODULE_METRICS = (
    ("calls", "count"),
    ("busy_s", "s"),
    ("jobs", "count"),
    ("task_s", "s"),
    ("gc_s", "s"),
    ("shuffle_mb", "MB"),
    ("out_mb", "MB"),
    ("driver_s", "s"),
    ("failed", "count"),
)


@dataclass
class Job:
    start: float  # epoch seconds
    end: float
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    in_records: int = 0
    out_bytes: int = 0
    out_records: int = 0


@dataclass
class Span:
    name: str
    module: str | None
    start: float
    parent: "Span | None"
    first_job: int
    end: float = 0.0
    last_job: int = 0  # exclusive
    failed: bool = False
    children: list["Span"] = field(default_factory=list)
    jobs: dict[int, Job] = field(default_factory=dict)  # self jobs only
    counts: dict[str, float] = field(default_factory=dict)

    def self_s(self) -> float:
        return (self.end - self.start) - sum(c.end - c.start for c in self.children)

    def driver_s(self) -> float:
        """Self time minus the union of the self jobs' active intervals
        clipped to the span: planning, Python and file listing."""
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(j.start, self.start), min(j.end, self.end)) for j in self.jobs.values()
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return max(0.0, self.self_s() - busy)


class Tracer:
    """Span recorder.  Disabled, ``span`` costs one branch and records
    nothing, so the untraced run measures the engine alone.  Enabled, the
    time it spends reading the status store is what tracing adds to a
    pass (``overhead_s``)."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent reading the status store
        self._stack: list[Span] = []
        sc = spark.sparkContext._jsc.sc()
        self._dag, self._bus, self._store = sc.dagScheduler(), sc.listenerBus(), sc.statusStore()

    def _next_job_id(self) -> int:
        return self._dag.numTotalJobs()

    def _read_jobs(self, first: int, last: int, skip: set[int]) -> dict[int, Job]:
        """Counters of the jobs with ids in [first, last) not in skip."""
        out: dict[int, Job] = {}
        # the status store is filled from the listener bus: drain it so
        # every job of the window, and its stage counters, are recorded
        self._bus.waitUntilEmpty(10_000)
        jobs = self._store.jobsList(None)  # newest first
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            jid = jd.jobId()
            if jid < first:
                break
            if jid >= last or jid in skip:
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            start = sub.get().getTime() / 1000 if sub.isDefined() else 0.0
            end = done.get().getTime() / 1000 if done.isDefined() else start
            job = Job(start, end)
            ids = jd.stageIds()
            for k in range(ids.size()):
                st = self._store.lastStageAttempt(ids.apply(k))
                if st.status().toString() == "SKIPPED":
                    continue
                job.task_s += st.executorRunTime() / 1000
                job.gc_s += st.jvmGcTime() / 1000
                job.shuffle_bytes += st.shuffleWriteBytes()
                job.in_records += st.inputRecords()
                job.out_bytes += st.outputBytes()
                job.out_records += st.outputRecords()
            out[jid] = job
        return out

    @contextmanager
    def span(self, name: str, module: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        t = time.perf_counter()
        first_job = self._next_job_id()
        self.overhead_s += time.perf_counter() - t
        sp = Span(name, module, time.time(), parent, first_job)
        self._stack.append(sp)
        try:
            yield sp
        except BaseException:
            sp.failed = True
            raise
        finally:
            sp.end = time.time()
            t = time.perf_counter()
            self._stack.pop()
            sp.last_job = self._next_job_id()
            claimed = {j for c in sp.children for j in range(c.first_job, c.last_job)}
            if sp.last_job > sp.first_job:
                sp.jobs = self._read_jobs(sp.first_job, sp.last_job, claimed)
            self.overhead_s += time.perf_counter() - t
            if parent is not None:
                parent.children.append(sp)
            self.spans.append(sp)


def module_totals(spans: list[Span]) -> dict[str, float]:
    """Sum the spans' self counters per module into
    ``<module>.<metric>`` values (modules with no span read 0)."""
    out = {f"{m}.{k}": 0.0 for m in MODULES for k, _ in MODULE_METRICS}
    for sp in spans:
        if sp.module is None:
            continue
        p = sp.module + "."
        out[p + "calls"] += 1
        out[p + "busy_s"] += sp.self_s()
        out[p + "jobs"] += len(sp.jobs)
        out[p + "task_s"] += sum(j.task_s for j in sp.jobs.values())
        out[p + "gc_s"] += sum(j.gc_s for j in sp.jobs.values())
        out[p + "shuffle_mb"] += sum(j.shuffle_bytes for j in sp.jobs.values()) / 1e6
        out[p + "out_mb"] += sum(j.out_bytes for j in sp.jobs.values()) / 1e6
        out[p + "driver_s"] += sp.driver_s()
        out[p + "failed"] += int(sp.failed)
    return out


def task_seconds(spans: list[Span]) -> float:
    return sum(j.task_s for sp in spans for j in sp.jobs.values())


def span_sum(spans: list[Span], module: str, attr: str) -> float:
    """Sum of one job counter over a module's spans."""
    return sum(
        getattr(j, attr) for sp in spans if sp.module == module for j in sp.jobs.values()
    )


def write_spans(spans: list[Span], path: str) -> None:
    """One JSON line per span; ``parent`` is the parent's line number."""
    index = {id(sp): i for i, sp in enumerate(spans)}
    with open(path, "w") as fh:
        for sp in spans:
            fh.write(json.dumps({
                "name": sp.name,
                "module": sp.module,
                "start": sp.start,
                "end": sp.end,
                "parent": index.get(id(sp.parent)),
                "jobs": sorted(sp.jobs),
                "task_s": sum(j.task_s for j in sp.jobs.values()),
                "driver_s": sp.driver_s(),
                "failed": sp.failed,
            }) + "\n")
