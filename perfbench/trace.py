"""Outside-in tracing: spans around the benchmark's calls into the
engine, and the Spark jobs each call launched, read from Spark's own
status store after the call returns.

Jobs are assigned to a call by job id: the DAGScheduler hands out ids in
submission order, so the jobs submitted inside a call's window are the
ids between the counter's value before and after it. That catches jobs
started on other threads (streaming micro-batches escape job groups) and,
unlike differencing ``statusStore().jobsList().size()``, it does not
saturate at ``spark.ui.retainedJobs``. The status store is updated by an
asynchronous listener, so the ledger drains the listener bus before it
reads.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field


@dataclass
class JobStats:
    """What one call's Spark jobs did."""

    jobs: int = 0
    tasks: int = 0
    in_jobs_s: float = 0.0  # union of the jobs' [submission, completion]
    executor_cpu_s: float = 0.0
    shuffle_bytes: int = 0  # shuffle bytes written (= bytes later read)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    job_ids: list[int] = field(default_factory=list)
    stats: JobStats | None = None
    trace_s: float = 0.0  # status-store reads of the spans nested in this one

    @property
    def wall_s(self) -> float:
        """The call's own time: the nested spans' store reads taken out."""
        return self.end - self.start - self.trace_s

    @property
    def outside_jobs_s(self) -> float:
        return max(0.0, self.wall_s - self.stats.in_jobs_s) if self.stats else 0.0


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class JobLedger:
    """Reads job and stage data for a range of job ids from the status
    store of a live SparkContext."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        # finished jobs and stages never change, so each is read once
        # (a batch span and its stage spans share their jobs)
        self._jobs: dict[int, tuple[float | None, float | None, list[int]]] = {}
        self._stages: dict[int, tuple | None] = {}

    def next_job_id(self) -> int:
        nxt = self._dag.nextJobId()  # an AtomicInteger, or its value through py4j
        return int(nxt if isinstance(nxt, int) else nxt.get())

    def _job(self, jid: int):
        hit = self._jobs.get(jid)
        if hit is not None:
            return hit
        try:
            jd = self._store.job(jid)
        except Exception:  # py4j wraps the JVM's NoSuchElementException
            return None
        sub, done = jd.submissionTime(), jd.completionTime()
        sids = jd.stageIds()
        rec = (
            sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            done.get().getTime() / 1000.0 if done.isDefined() else None,
            [int(sids.apply(i)) for i in range(sids.size())],
        )
        if rec[1] is not None:
            self._jobs[jid] = rec
        return rec

    def _stage(self, sid: int) -> tuple | None:
        """(tasks, CPU s, shuffle bytes) of the stage's last attempt; None
        when it was skipped or is not in the store."""
        if sid in self._stages:
            return self._stages[sid]
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:  # py4j wraps the JVM's NoSuchElementException
            return None
        status = st.status().toString()
        row = None if status == "SKIPPED" else (
            int(st.numCompleteTasks()), st.executorCpuTime() / 1e9,
            int(st.shuffleWriteBytes()))
        if status in ("COMPLETE", "SKIPPED", "FAILED"):
            self._stages[sid] = row
        return row

    def stats(self, job_ids: list[int], window: tuple[float, float]) -> JobStats:
        """Aggregate the given jobs; their intervals are clipped to
        ``window`` (epoch seconds) before the union is taken."""
        self._bus.waitUntilEmpty()
        out = JobStats()
        intervals: list[tuple[float, float]] = []
        seen_stages: set[int] = set()
        for jid in job_ids:
            rec = self._job(jid)
            if rec is None:
                continue
            out.jobs += 1
            lo = window[0] if rec[0] is None else max(rec[0], window[0])
            hi = window[1] if rec[1] is None else min(rec[1], window[1])
            if hi > lo:
                intervals.append((lo, hi))
            for sid in rec[2]:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                row = self._stage(sid)
                if row is not None:
                    tasks, cpu_s, shuffle = row
                    out.tasks += tasks
                    out.executor_cpu_s += cpu_s
                    out.shuffle_bytes += shuffle
        out.in_jobs_s = _union_length(intervals)
        return out


class Tracer:
    """Collects spans in memory. With ``ledger=None`` (untraced runs) a
    span costs two clock reads; with a ledger, each span also records the
    job ids submitted inside it and their stats from the status store.
    ``overhead_s`` is the total time spent reading the store."""

    def __init__(self, ledger: JobLedger | None = None) -> None:
        self.ledger = ledger
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name=name, start=time.time(), parent=parent)
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        first = self.ledger.next_job_id() if self.ledger else 0
        overhead0 = self.overhead_s
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.trace_s = self.overhead_s - overhead0
            self._stack.pop()
            if self.ledger:
                t0 = time.perf_counter()
                sp.job_ids = list(range(first, self.ledger.next_job_id()))
                sp.stats = self.ledger.stats(sp.job_ids, (sp.start, sp.end))
                self.overhead_s += time.perf_counter() - t0

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent is not None and self.spans[s.parent] is span]

    def dump(self) -> list[dict]:
        out = []
        for s in self.spans:
            d = {"name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
                 "parent": s.parent, "job_ids": s.job_ids, "trace_s": round(s.trace_s, 6)}
            if s.stats:
                d["stats"] = vars(s.stats)
            out.append(d)
        return out
