"""Traced-run instrumentation, all from outside the engine package.

- :class:`SparkAccounting` tags an op's Spark jobs with a job group and,
  after the run, reads the jobs and stages of each group back from
  Spark's status store (works with the UI disabled).
- :class:`Tracer` wraps the public functions of the engine's modules and
  records spans (name, start, end, parent, op id) in memory.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class OpStats:
    """Spark work attributed to one op's job group."""

    wall_s: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    build_s: float = 0.0
    exec_s: float = 0.0
    sched_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    peak_tasks_per_core: float = 0.0


class SparkAccounting:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self._store = self.sc._jsc.sc().statusStore()
        self._quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)

    def tag(self, group: str) -> None:
        """Attribute the calling thread's next Spark jobs to ``group``."""
        self.sc.setJobGroup(group, group)

    def untag(self) -> None:
        self.sc._jsc.clearJobGroup()

    def drain(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def stats(self, group: str, start: float, end: float) -> OpStats:
        """Jobs and completed stages of ``group``; ``start``/``end`` are
        the op's epoch seconds. Call :meth:`drain` first."""
        out = OpStats(wall_s=end - start)
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        if not job_ids:
            out.build_s = out.wall_s
            out.sched_s = 0.0
            return out
        out.jobs = len(job_ids)
        first_submit = None
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = self._store.job(jid)
            sub = job.submissionTime()
            if sub.isDefined():
                t = sub.get().getTime() / 1000.0
                first_submit = t if first_submit is None else min(first_submit, t)
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        run_ms = 0
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, None, False, self._quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if str(st.status()) != "COMPLETE":
                    continue
                out.stages += 1
                n = st.numTasks()
                out.tasks += n
                out.peak_tasks_per_core = max(out.peak_tasks_per_core, n / self.cores)
                run_ms += st.executorRunTime()
                out.input_bytes += st.inputBytes()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out.gc_s += st.jvmGcTime() / 1000.0
        out.build_s = max(0.0, (first_submit or end) - start)
        out.exec_s = run_ms / 1000.0 / self.cores
        out.sched_s = out.wall_s - out.build_s - out.exec_s
        return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    id: int


@dataclass
class Tracer:
    """Spans at layer boundaries, kept in memory until :meth:`dump`.

    Wrapped functions record only while :attr:`active` is set, so the
    untraced phases of a traced run execute the original code path
    plus one attribute check."""

    active: bool = False
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)

    def current_op(self) -> str | None:
        return getattr(self._local, "op", None)

    def set_op(self, op: str | None) -> None:
        self._local.op = op

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def record(self, name: str, fn, *args, **kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            self.spans.append(Span(name, t0, time.time(), parent, self.current_op(), sid))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.record(name, orig, *args, **kwargs)

        setattr(owner, attr, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default
