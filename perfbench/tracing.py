"""Tracing for the benchmark's traced runs: spans, Spark job accounting,
task totals from the status store, streaming progress and peak memory.

Everything here wraps calls from the benchmark's own files; nothing in
``margaret_spark/`` is instrumented. With tracing off, :class:`Tracer`
keeps no spans and issues no JVM calls, so the untraced run pays only
for a no-op context manager.
"""

from __future__ import annotations

import sys
import time
from contextlib import contextmanager


def log(msg: str) -> None:
    """Progress note on stderr (stdout carries only the result line)."""
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``values``; 0.0 when
    there are none (a layer idle on this workload)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _hwm_kib(pid) -> int:
    """Peak resident set (VmHWM) of a process, in KiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> tuple[float, float]:
    """(driver Python, JVM child) peak resident memory in MB."""
    jvm = spark.sparkContext._gateway.proc.pid
    return _hwm_kib("self") / 1024.0, _hwm_kib(jvm) / 1024.0


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "job_lo", "job_hi")

    def __init__(self, sid, name, parent, start, job_lo):
        self.sid, self.name, self.parent = sid, name, parent
        self.start, self.job_lo = start, job_lo
        self.end = self.job_hi = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> range:
        """Spark job ids submitted while the span was open, from any
        thread and any job group (ids are dense and increasing)."""
        return range(self.job_lo, self.job_hi)


class Tracer:
    """In-memory span recorder. ``span(name)`` nests under the span open
    on entry; each span records the Spark job-id range it covered."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._dag = spark.sparkContext._jsc.sc().dagScheduler() if enabled else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter(), self.next_job_id())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.job_hi = self.next_job_id()
            s.end = time.perf_counter()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def jobs_of(self, name: str) -> set[int]:
        return {j for s in self.named(name) for j in s.jobs}


#: Session settings for a traced run: keep every job and stage in the
#: status store, so none is evicted before the run reads it back.
STATUS_STORE_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
}


class JobStats:
    """Per-job task totals read from Spark's status store (the store
    behind ``statusTracker``) before the session stops. A stage shared by
    several jobs is counted once, in the first job that lists it."""

    FIELDS = (
        "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
        "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes",
    )

    def __init__(self, spark, job_ids, skip_groups=()):
        from py4j.protocol import Py4JJavaError

        store = spark.sparkContext._jsc.sc().statusStore()
        self.jobs: dict[int, dict] = {}
        seen: set[int] = set()
        for jid in sorted(job_ids):
            try:
                job = store.job(jid)
            except Py4JJavaError:
                continue  # never submitted: its action failed before a job
            group = job.jobGroup()
            if group.isDefined() and group.get() in skip_groups:
                continue
            rec = dict.fromkeys(self.FIELDS, 0)
            rec["checkpoint"] = "heckpoint" in job.name()
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped: its output was already there
                if st.status().toString() != "COMPLETE":
                    continue
                rec["checkpoint"] |= "heckpoint" in st.name()
                rec["stages"] += 1
                rec["tasks"] += st.numCompleteTasks()
                rec["executor_run_s"] += st.executorRunTime() / 1e3
                rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
                rec["jvm_gc_s"] += st.jvmGcTime() / 1e3
                rec["input_bytes"] += st.inputBytes()
                rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            self.jobs[jid] = rec

    def total(self, job_ids, field: str) -> float:
        return sum(self.jobs[j][field] for j in job_ids if j in self.jobs)

    def checkpoints(self, job_ids) -> int:
        """Jobs that materialize a (local) checkpoint."""
        return sum(1 for j in job_ids if j in self.jobs and self.jobs[j]["checkpoint"])


def streaming_listener(spark):
    """Register and return a listener that keeps every streaming progress
    report (micro-batch phase durations and state-store figures)."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self):
            self.progress = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener


def stop_listening(spark, listener) -> list:
    """Unregister ``listener`` (so no callback reaches a stopped session)
    and return the progress reports it kept; [] for no listener."""
    if listener is None:
        return []
    spark.streams.removeListener(listener)
    return list(listener.progress)


def stream_metrics(progress) -> dict:
    """Per-layer streaming figures from the progress reports of batches
    that read input."""
    ps = [p for p in progress if p.numInputRows > 0]
    state = [s for p in ps for s in p.stateOperators]
    return {
        "batches": len(ps),
        "add_batch_ms": pct([p.durationMs.get("addBatch", 0) for p in ps], 50),
        "wal_commit_ms": pct([p.durationMs.get("walCommit", 0) for p in ps], 50),
        "state_commit_ms": pct([s.commitTimeMs for s in state], 50),
        "state_rows": max((s.numRowsTotal for s in state), default=0),
        "state_memory_bytes": max((s.memoryUsedBytes for s in state), default=0),
    }
