"""Spark's own cost ledger, read per operation outside every timer.

An operation runs under a fresh job group (``SparkContext.setJobGroup``).
Afterwards :meth:`Ledger.collect` drains the listener bus, lists the
group's jobs (``statusTracker().getJobIdsForGroup``) plus the jobs of
every streaming query the operation started (Structured Streaming runs
its micro-batches under a job group named after the query's run id),
and sums each job's stages from ``statusStore().lastStageAttempt``.  A
skipped stage has no attempt and raises; it contributed nothing and is
left out.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024


@dataclass
class Cost:
    """What Spark recorded for one operation (or a sum of them)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    cpu_ns: int = 0
    run_ms: int = 0
    #: (submitted_s, completed_s, job name) per job, epoch seconds
    intervals: list[tuple[float, float, str]] = field(default_factory=list)

    def __iadd__(self, other: "Cost") -> "Cost":
        for k in (
            "jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
            "spill_bytes", "cpu_ns", "run_ms",
        ):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.intervals += other.intervals
        return self

    def __add__(self, other: "Cost") -> "Cost":
        out = Cost()
        out += self
        out += other
        return out

    def busy_s(self, start: float | None = None, end: float | None = None) -> float:
        """Length of the union of the job intervals, clipped to
        ``[start, end]`` when given."""
        spans = sorted(
            (max(a, start) if start is not None else a,
             min(b, end) if end is not None else b)
            for a, b, _ in self.intervals
        )
        total, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
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

    def as_dict(self) -> dict:
        return {
            "jobs": self.jobs,
            "stages": self.stages,
            "tasks": self.tasks,
            "input_mb": self.input_bytes / MB,
            "shuffle_mb": self.shuffle_write_bytes / MB,
            "spill_mb": self.spill_bytes / MB,
            "executor_cpu_s": self.cpu_ns / 1e9,
            "executor_run_s": self.run_ms / 1e3,
        }


class StreamRecorder(StreamingQueryListener):
    """Run ids, micro-batch durations and state rows of every streaming
    query, as the listener bus delivers them."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []
        self.batch_ms: list[float] = []
        #: run id → state rows after the query's latest micro-batch
        self.last_state_rows: dict[str, int] = {}

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows or p.batchDuration:
            self.batch_ms.append(float(p.batchDuration))
        self.last_state_rows[str(p.runId)] = sum(
            int(op.numRowsTotal) for op in p.stateOperators
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Ledger:
    """Job-group bookkeeping and stage-metric sums for one session.

    One operation opens with :meth:`start_op`; :meth:`switch` moves the
    rest of it to a new labelled group (a tier boundary); after
    :meth:`end`, :meth:`collect` returns the cost per label.  A
    streaming query belongs to the group that was open when it started.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._seq = itertools.count()
        self._open: list[tuple[str, str, int]] = []
        self.streams = StreamRecorder()
        spark.streams.addListener(self.streams)

    def start_op(self, label: str) -> None:
        self._open = []
        self.switch(label)

    def switch(self, label: str) -> None:
        group = f"perfbench-{next(self._seq)}"
        self.sc.setJobGroup(group, label)
        self._open.append((label, group, len(self.streams.run_ids)))

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until every posted event reached the status store and
        the streaming listener."""
        self._bus.waitUntilEmpty()

    def collect(self) -> dict[str, Cost]:
        """Cost per label of the operation that just ended."""
        self.drain()
        tracker = self.sc.statusTracker()
        run_ids = self.streams.run_ids
        bounds = [n for _, _, n in self._open[1:]] + [len(run_ids)]
        out: dict[str, Cost] = {}
        for (label, group, first), last in zip(self._open, bounds):
            cost = out.setdefault(label, Cost())
            for g in [group] + run_ids[first:last]:
                for jid in tracker.getJobIdsForGroup(g):
                    cost += self._job(tracker, jid)
        self._open = []
        return out

    def _job(self, tracker, jid: int) -> Cost:
        c = Cost(jobs=1)
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # skipped stage: never attempted
            c.stages += 1
            c.tasks += st.numTasks()
            c.input_bytes += st.inputBytes()
            c.shuffle_write_bytes += st.shuffleWriteBytes()
            c.spill_bytes += st.diskBytesSpilled()
            c.cpu_ns += st.executorCpuTime()
            c.run_ms += st.executorRunTime()
        jd = self._store.job(jid)
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and done.isDefined():
            c.intervals.append(
                (sub.get().getTime() / 1e3, done.get().getTime() / 1e3, jd.name())
            )
        return c
