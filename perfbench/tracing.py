"""Spans and Spark counters for the benchmark's traced runs.

A :class:`Tracer` records one span per call the benchmark makes into a
layer of the program: name, start, end, parent span and the id of the
request or batch it belongs to. Spans stay in memory; :meth:`Tracer.dump`
writes them out once at exit. Each span runs its Spark jobs under its own
job group (``setJobGroup``), so the status store attributes every job,
stage and task to exactly one span. A disabled tracer records nothing
and sets no job group, which is how the untraced ops of a run execute.

The Python worker figures (``python.*``) are SQL metrics, not task
metrics: they are read from the SQL status store and attributed to a span
through the jobs of each SQL execution.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

#: Counter attributed to each span -> unit.
COUNTERS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.executor_run_ms": "ms", "spark.jvm_gc_ms": "ms",
    "python.total_ms": "ms", "python.boot_ms": "ms",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
}

#: SQL metric name (Spark 4.1 Python exec nodes) -> counter.
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python.total_ms",
    "time to start Python workers": "python.boot_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sql_next = 0  # id of the first SQL execution not read yet
        self._python_by_job: dict[int, dict] = {}

    @contextmanager
    def span(self, name: str, op: str | None = None, probe: bool = False,
             by_window: bool = False):
        """Time the enclosed call as one span.

        ``probe`` marks work only the traced run does, which the overhead
        figure leaves out. ``by_window`` attributes to the span every job
        submitted while it ran, for work whose jobs Spark runs outside the
        caller's job group (a streaming query's micro-batches).
        """
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "probe": probe or bool(parent and parent["probe"]),
            "group": None if by_window else f"perfbench-span-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if rec["group"]:
            sc.setJobGroup(rec["group"], name, False)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            if parent is not None and parent["group"]:
                sc.setJobGroup(parent["group"], parent["name"], False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def collect_counters(self) -> None:
        """Attach Spark counters and job intervals to every span that has
        none yet. Call between ops, outside any timed region."""
        self._read_sql_executions()
        for rec in self.spans:
            if "spark.jobs" not in rec and "dur" in rec:
                if rec["group"]:
                    ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(rec["group"])
                else:
                    ids = jobs_in_window(self.spark, rec["start"], rec["end"])
                rec.update(job_counters(self.spark, ids))
                done = set()
                for jid in ids:
                    ex = self._python_by_job.get(jid)
                    if ex is not None and id(ex) not in done:
                        done.add(id(ex))
                        for k, v in ex.items():
                            rec[k] += v

    def _read_sql_executions(self) -> None:
        """Python worker metrics of the SQL executions that ended since the
        last call, indexed by each of their job ids."""
        conv = self.spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
        store = self.spark._jsparkSession.sharedState().statusStore()
        total = store.executionsCount()
        if not total:
            return
        last = conv.asJava(store.executionsList(total - 1, 1))[0].executionId()
        first, self._sql_next = self._sql_next, last + 1
        for eid in range(first, last + 1):
            found = store.execution(eid)
            if not found.isDefined():
                continue  # evicted
            ex = found.get()
            wanted = {  # a plan may list an accumulator twice: keyed by its id
                m.accumulatorId(): PYTHON_SQL_METRICS[m.name()]
                for m in conv.asJava(ex.metrics()) if m.name() in PYTHON_SQL_METRICS
            }
            if not wanted:
                continue
            values = conv.asJava(store.executionMetrics(ex.executionId()))
            figures = dict.fromkeys(PYTHON_SQL_METRICS.values(), 0.0)
            for acc, name in wanted.items():
                figures[name] += parse_sql_metric(values.get(acc))
            for jid in conv.asJava(ex.jobs()).keySet():
                self._python_by_job[int(jid)] = figures

    def dump(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"summary": summary, "spans": self.spans}, fh, indent=1)


def jobs_in_window(spark, lo: float, hi: float) -> list[int]:
    """Ids of the jobs submitted within [lo, hi] (epoch seconds)."""
    sc = spark.sparkContext
    jobs = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        sc._jsc.sc().statusStore().jobsList(None)
    )
    out = []
    for jd in jobs:
        sub = jd.submissionTime()
        if sub.isDefined() and lo <= sub.get().getTime() / 1000.0 <= hi:
            out.append(jd.jobId())
    return out


def job_counters(spark, job_ids) -> dict:
    """Spark counters of the jobs ``job_ids``: job, stage and task counts,
    shuffle and spill bytes, executor run and GC time, and the jobs'
    [submission, completion] wall intervals (epoch seconds)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(COUNTERS, 0)
    out["job_intervals"] = []
    for jid in job_ids:
        out["spark.jobs"] += 1
        try:
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                out["job_intervals"].append(
                    (sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0)
                )
        except Py4JError:
            pass
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JError:
                continue  # evicted, or skipped and never attempted
            if str(sd.status().toString()) == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += sd.numCompleteTasks()
            out["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["spark.executor_run_ms"] += sd.executorRunTime()
            out["spark.jvm_gc_ms"] += sd.jvmGcTime()
    return out


def parse_sql_metric(text) -> float:
    """Total of a formatted SQL size or timing metric, in bytes or ms.

    The status store formats a metric as ``"total (min, med, max ...)\n
    16.9 KiB (4.0 KiB, ...)"``, or as the bare total; None if it was never
    set."""
    if not text:
        return 0.0
    num, unit = text.strip().splitlines()[-1].split()[:2]
    return float(num.replace(",", "")) * {**_SIZE, **_MS}[unit]


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: s["dur"] - covered_seconds(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress event (as a
    dict) and the ids of terminated queries; register it with
    ``spark.streams.addListener``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated: set[str] = set()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.add(str(event.id))

        def wait_terminated(self, query_id: str, timeout: float = 10.0) -> None:
            """Block until the bus has delivered ``query_id``'s last event."""
            deadline = time.monotonic() + timeout
            while query_id not in self.terminated and time.monotonic() < deadline:
                time.sleep(0.01)

    return ProgressListener()
