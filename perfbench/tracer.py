"""Outside-in span tracer over Spark's in-process status store.

Each span sets the Spark job group of the calling thread, so every job
the wrapped library call submits is labelled with the span. At span
exit the tracer drains the listener bus, asks the status tracker for
the group's jobs and reads each stage's last attempt from the status
store. This needs no UI, REST server or event log (it works with
``spark.ui.enabled=false``). Stages are read at exit because the store
keeps only ``spark.ui.retainedStages`` of them.

Spans are ``(name, start, end, parent, op)`` records kept in memory and
written out by the caller at the end of the run. The tracer never
touches library code: the benchmark wraps its calls into the library.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

UNSPANNED = "perfbench.unspanned"
UNTRACED = "perfbench.untraced"
_MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    op: int | None = None
    calls: int = 1
    stats: dict = field(default_factory=dict)


class NullTracer:
    """The untraced mode: spans cost one generator frame and nothing else."""

    @contextmanager
    def span(self, name: str, calls: int = 1):
        yield None

    @contextmanager
    def operation(self, op_id: int, record: bool = True):
        yield


class StageTracer:
    def __init__(self, spark, op_name: str):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.op_name = op_name
        self._ids = itertools.count()
        self._open: str | None = None
        self.spans: list[Span] = []
        self._op: int | None = None
        self._record = True
        self.unattributed: set[int] = set()
        self.sc.setJobGroup(UNSPANNED, UNSPANNED)

    def _drain(self) -> None:
        # status-store updates arrive on the async listener bus
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _collect_unspanned(self) -> None:
        """Jobs submitted outside every span: from this thread while no
        span is open (group UNSPANNED), or from a thread that never had
        a job group set, such as a pool thread inside a library call
        (group None)."""
        self._drain()
        st = self.sc.statusTracker()
        self.unattributed.update(st.getJobIdsForGroup(UNSPANNED))
        self.unattributed.update(st.getJobIdsForGroup(None))

    @contextmanager
    def operation(self, op_id: int, record: bool = True):
        """One benchmark operation. With ``record=False`` its spans are
        not recorded and its jobs go to a group of their own, so the
        traced run can interleave untraced operations to measure the
        tracer's overhead."""
        self._op, self._record = op_id, record
        if not record:
            self.sc.setJobGroup(UNTRACED, UNTRACED)
        try:
            yield
        finally:
            self._op, self._record = None, True
            self.sc.setJobGroup(UNSPANNED, UNSPANNED)

    @contextmanager
    def span(self, name: str, calls: int = 1):
        """A layer span covering ``calls`` calls of one library function;
        it owns every job submitted while it is open. Layer spans do not
        nest: each is a direct child of the operation."""
        if not self._record:
            yield None
            return
        if self._open is not None:
            raise RuntimeError(f"span {name!r} opened inside {self._open!r}")
        self._collect_unspanned()
        group = f"{name}#{next(self._ids)}"
        sp = Span(name, time.time(), parent=self.op_name, op=self._op, calls=calls)
        self._open = name
        self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._open = None
            self._drain()
            sp.stats = self._stage_stats(group, sp.start, sp.end)
            self.spans.append(sp)
            self.sc.setJobGroup(UNSPANNED, UNSPANNED)

    def _stage_stats(self, group: str, start: float, end: float) -> dict:
        st = self.sc.statusTracker()
        store = self._jsc.statusStore()
        job_ids = list(st.getJobIdsForGroup(group))
        out = {
            "job_ids": job_ids, "tasks": 0, "exec_cpu_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "scan_exec_cpu_s": 0.0, "merge_exec_cpu_s": 0.0,
        }
        intervals = []
        seen = set()
        for jid in job_ids:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info is not None else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted: no attempt stored
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                cpu = sd.executorCpuTime() / 1e9
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["exec_cpu_s"] += cpu
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
                # merge stages read shuffle output; scan stages read none
                key = "merge_exec_cpu_s" if sd.shuffleReadBytes() > 0 else "scan_exec_cpu_s"
                out[key] += cpu
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append(
                        (max(start, sub.get().getTime() / 1000.0),
                         min(end, done.get().getTime() / 1000.0))
                    )
        out["stage_span_s"] = _union(intervals)
        return out

    def unattributed_jobs(self) -> int:
        self._collect_unspanned()
        return len(self.unattributed)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
