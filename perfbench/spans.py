"""Spans and counters the benchmark records around its calls into the
engine. Nothing here touches the engine's code: every number is taken
from outside, by timing the benchmark's own calls and by reading
Spark's status tracker, its local UI REST API and a streaming query
listener.

- ``Recorder`` keeps spans in memory: name, start, end, parent and a
  dict of counters attached at that span. All spans of one run share
  the run id. ``write`` puts them in a JSON file when the run ends.
- ``SparkCounters`` tags each call phase with its own job group and
  sums the job, stage and task metrics of that group once the call
  has returned.
- ``StreamCounters`` is a ``StreamingQueryListener`` that collects the
  progress of every micro-batch.
"""

from __future__ import annotations

import json
import time
import urllib.request
import uuid
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Span:
    __slots__ = ("id", "parent", "name", "start", "end", "attrs")

    def __init__(self, sid: int, parent: int | None, name: str, start: float):
        self.id = sid
        self.parent = parent
        self.name = name
        self.start = start
        self.end = start
        self.attrs: dict = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span tree of one run; ``span`` nests by call order."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, start: float | None = None, **attrs):
        """Record the body as a span; ``start`` back-dates it (to a
        ``time.perf_counter`` reading taken by another process)."""
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name,
                 time.perf_counter() if start is None else start)
        s.attrs.update(attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        """Duration minus the union of the child spans' intervals."""
        covered, last = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return span.seconds - covered

    def write(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        doc = {
            "run_id": self.run_id,
            "spans": [{
                "run_id": self.run_id, "id": s.id, "parent": s.parent,
                "name": s.name, "start_s": s.start - t0, "end_s": s.end - t0,
                "self_s": self.self_seconds(s), "attrs": s.attrs,
            } for s in self.spans],
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)


_STAGE_SUMS = {
    # REST StageData field -> counter name (times in ms, CPU in ns)
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_bytes",
    "numCompleteTasks": "tasks",
}


class SparkCounters:
    """Job, stage and task counters per benchmark call phase.

    ``tag(span)`` runs its body under a fresh job group; ``read``
    then lists the group's jobs with the status tracker and fetches
    each of their stages once from the UI REST API. Jobs that the
    engine starts on other threads (the micro-batches of a stream)
    carry no group and are counted by ``StreamCounters`` instead.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                     f"{self.sc.applicationId}")
        self._n = 0
        self._rest("/stages?status=complete&details=false")  # warm the UI

    def _rest(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    @contextmanager
    def tag(self, span: Span):
        """Run the body under a job group of its own, named in the
        span; ``read_into`` fetches the group's counters later, after
        the timed spans have closed."""
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, span.name)
        span.attrs["job_group"] = group
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read_into(self, span: Span) -> None:
        span.attrs.update(self.read(span.attrs.pop("job_group")))

    def read(self, group: str, wait_s: float = 5.0) -> dict:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        out = {"jobs": len(job_ids), "stages": 0}
        out.update({v: 0 for v in _STAGE_SUMS.values()})
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        deadline = time.perf_counter() + wait_s
        for sid in sorted(stage_ids):
            while True:
                attempts = self._rest(f"/stages/{sid}?details=false")
                # the status store is fed asynchronously: wait for the
                # stage's final metrics to land
                if all(a["status"] not in ("ACTIVE", "PENDING")
                       for a in attempts) or time.perf_counter() > deadline:
                    break
                time.sleep(0.02)
            for a in attempts:
                if a["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                for field, name in _STAGE_SUMS.items():
                    out[name] += int(a.get(field) or 0)
        return out


class StreamCounters(StreamingQueryListener):
    """Per-micro-batch progress of every streaming query in the run."""

    def __init__(self) -> None:
        super().__init__()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = dict(p.durationMs)
        self.batches.append({
            "input_rows": int(p.numInputRows),
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
            "state_commit_ms": sum(int(s.commitTimeMs)
                                   for s in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def settle(self, timeout_s: float = 5.0) -> None:
        """Wait until no progress event arrived for 0.3 s: listener
        events are delivered asynchronously after a query ends."""
        deadline = time.perf_counter() + timeout_s
        seen = -1
        while len(self.batches) != seen and time.perf_counter() < deadline:
            seen = len(self.batches)
            time.sleep(0.3)


def jvm_live_heap_mb(spark) -> float:
    """Heap in use in the Spark JVM after two full collections: what
    the session still holds (cached relations, checkpointed blocks,
    plans)."""
    jvm = spark.sparkContext._jvm
    # the second collection frees what the context cleaner released
    # (broadcasts, shuffles) in reaction to the first
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM (local mode: driver and executors)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")
