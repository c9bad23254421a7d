"""Per-layer tracing, used only by the traced run (`--trace 1`).

Spans are taken around the public calls into each layer, from this
file, the way tools/strm_decomp.py does it: the package is not
changed, and nothing here is installed during an untraced run.

- `Tracer.patched` wraps `streaming.daemon.fetch_once` (the fetcher
  layer as the daemon calls it) and `DataStreamWriter.start` /
  `StreamingQuery.awaitTermination` (the ingest query's start and
  drain) for the duration of one operation.
- `ProgressListener` is a StreamingQueryListener; it keeps each
  micro-batch's `StreamingQueryProgress.durationMs` split.
- `TimedGapMonitor` is handed to the package through its public
  `monitor=` argument and times `GapMonitor.observe`.
- `job_metrics` reads the Spark jobs and stages an operation ran back
  from the application status store. Jobs are selected by id: the
  benchmark is the only client of its session, so the ids allocated
  between an operation's start and end are exactly its jobs (its
  driver-thread jobs and the micro-batch jobs of its streaming runs,
  which Spark tags with the run id as job group).
"""

from __future__ import annotations

import contextlib
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

from wsprnet_scraper_spark.streaming.ingest import GapMonitor

PROGRESS_KEYS = {
    "latestOffset": "ingest.latest_offset_ms",
    "getBatch": "ingest.get_batch_ms",
    "queryPlanning": "ingest.query_planning_ms",
    "addBatch": "ingest.add_batch_ms",
    "walCommit": "ingest.wal_commit_ms",
    "commitOffsets": "ingest.commit_offsets_ms",
}


class ProgressListener(StreamingQueryListener):
    """Collects micro-batch progress per streaming run id."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: dict[str, list] = defaultdict(list)
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.progress[str(p.runId)].append((dict(p.durationMs), int(p.numInputRows)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def take(self, run_ids, timeout: float = 10.0) -> list:
        """Progress of the given runs, once their terminated events have
        arrived (the listener bus delivers them after awaitTermination
        returns)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if set(run_ids) <= self.terminated:
                    break
            time.sleep(0.01)
        with self._lock:
            out = [rec for r in run_ids for rec in self.progress.pop(r, [])]
            self.terminated -= set(run_ids)
        return out


class TimedGapMonitor(GapMonitor):
    """GapMonitor whose observe() is timed and whose Spark jobs are
    counted (job ids allocated during the call)."""

    def __init__(self, sc) -> None:
        super().__init__()
        self._sc = sc
        self.seconds = 0.0
        self.jobs = 0

    def observe(self, batch_df, batch_id: int) -> None:
        first = next_job_id(self._sc)
        t0 = time.perf_counter()
        try:
            super().observe(batch_df, batch_id)
        finally:
            self.seconds += time.perf_counter() - t0
            self.jobs += next_job_id(self._sc) - first


def next_job_id(sc) -> int:
    """The id the next Spark job will get (DAGScheduler.nextJobId)."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


def job_metrics(sc, first_job: int, end_job: int, wall_s: float) -> dict:
    """Spark runtime totals of jobs [first_job, end_job)."""
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        ("spark.stages", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
         "spark.input_bytes", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
         "spark.spill_bytes"), 0.0)
    out["spark.jobs"] = end_job - first_job
    intervals, stage_ids = [], set()
    for jid in range(first_job, end_job):
        job = store.job(jid)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append((job.submissionTime().get().getTime() / 1e3,
                              job.completionTime().get().getTime() / 1e3))
        it = job.stageIds().iterator()
        while it.hasNext():
            stage_ids.add(it.next())
    for sid in stage_ids:
        s = store.lastStageAttempt(sid)
        if s.status().toString() != "COMPLETE":
            continue  # skipped stages reuse earlier shuffle output
        out["spark.stages"] += 1
        out["spark.tasks"] += s.numCompleteTasks()
        out["spark.executor_run_s"] += s.executorRunTime() / 1e3
        out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
        out["spark.input_bytes"] += s.inputBytes()
        out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
        out["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    out["driver.outside_jobs_s"] = max(wall_s - union_length(intervals), 0.0)
    return out


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total


class Tracer:
    """Span collection for one traced operation at a time."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.listener = ProgressListener()
        self.spans: dict[str, float] = defaultdict(float)
        self.run_ids: list[str] = []

    @contextlib.contextmanager
    def patched(self):
        """Wrap the fetcher and the ingest query's start/drain for one
        operation; restores the originals on exit."""
        from pyspark.sql.streaming import DataStreamWriter

        from wsprnet_scraper_spark.streaming import daemon

        spans, run_ids = self.spans, self.run_ids
        orig_fetch, orig_start = daemon.fetch_once, DataStreamWriter.start

        def fetch_once(*a, **k):
            t0 = time.perf_counter()
            try:
                return orig_fetch(*a, **k)
            finally:
                spans["fetcher.fetch_once_s"] += time.perf_counter() - t0

        def start(writer, *a, **k):
            t0 = time.perf_counter()
            q = orig_start(writer, *a, **k)
            spans["ingest.start_s"] += time.perf_counter() - t0
            run_ids.append(str(q.runId))
            orig_await = q.awaitTermination

            def await_termination(*aa, **kk):
                t1 = time.perf_counter()
                try:
                    return orig_await(*aa, **kk)
                finally:
                    spans["ingest.drain_s"] += time.perf_counter() - t1

            q.awaitTermination = await_termination
            return q

        daemon.fetch_once, DataStreamWriter.start = fetch_once, start
        try:
            yield
        finally:
            daemon.fetch_once, DataStreamWriter.start = orig_fetch, orig_start

    def begin(self) -> int:
        """Start of a traced operation; returns its first job id. The
        listener is registered only while an operation is traced."""
        self.spans.clear()
        self.run_ids.clear()
        self.spark.streams.addListener(self.listener)
        return next_job_id(self.sc)

    def end(self, first_job: int, wall_s: float) -> dict:
        """Per-operation record: spans, micro-batch progress, Spark totals."""
        rec = dict(self.spans)
        progress = self.listener.take(self.run_ids) if self.run_ids else []
        self.spark.streams.removeListener(self.listener)
        if self.run_ids:
            for key, name in PROGRESS_KEYS.items():
                rec[name] = float(sum(d.get(key, 0) for d, _ in progress))
            rec["ingest.batches"] = float(len(progress))
            rec["ingest.input_rows"] = float(sum(n for _, n in progress))
        rec.update(job_metrics(self.sc, first_job, next_job_id(self.sc), wall_s))
        return rec
