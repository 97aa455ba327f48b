"""What the benchmark observes: spans, micro-batch progress, stage and task
metrics from Spark's status store, heap and GC figures from the JVM's
management beans, and peak RSS from ``/proc``."""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import json
import os
import threading
import time
from collections.abc import Iterator

from pyspark.sql.streaming import StreamingQueryListener

from .stats import median

# Order of the micro-batch phases inside one trigger (MicroBatchExecution),
# used to lay the durationMs children out along the batch span.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class Tracer:
    """Spans kept in memory and written out once, when the run ends.

    A disabled tracer records nothing, so the untraced run pays only for the
    ``with`` statement."""

    def __init__(self, enabled: bool, trace_id: str) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.add(name, start, time.time(), parent=parent, span_id=sid, **attrs)

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            span_id: int | None = None, **attrs) -> int:
        """Record a span whose times were measured elsewhere; returns its id."""
        sid = span_id if span_id is not None else next(self._ids)
        if self.enabled:
            self.spans.append({
                "trace": self.trace_id, "id": sid, "parent": parent, "name": name,
                "start": start, "end": end, **attrs,
            })
        return sid

    def add_batches(self, batches: list[dict], parent: int | None) -> None:
        """One span per micro-batch, with a child per ``durationMs`` phase."""
        for b in batches:
            start = progress_start(b)
            dur = b.get("durationMs", {})
            bid = self.add("microbatch", start, start + dur.get("triggerExecution", 0) / 1000,
                           parent=parent, query=b.get("name"), batch=b["batchId"],
                           rows=b.get("numInputRows", 0))
            t = start
            for phase in PHASES:
                ms = dur.get(phase, 0)
                if ms:
                    self.add(phase, t, t + ms / 1000, parent=bid)
                    t += ms / 1000

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def progress_start(p: dict) -> float:
    """Trigger start of a progress event, epoch seconds."""
    ts = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=dt.timezone.utc).timestamp()


def progress_end(p: dict) -> float:
    """When the batch finished, i.e. when its output was in the sink."""
    return progress_start(p) + p.get("durationMs", {}).get("triggerExecution", 0) / 1000


class ProgressCollector(StreamingQueryListener):
    """Every progress event of every query, keyed by query id and batch id.

    ``query.recentProgress`` is a 100-entry ring buffer, so a long run would
    silently lose batches from it; a listener sees each one."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._by_query: dict[str, dict[int, dict]] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self._by_query.setdefault(p["id"], {})[p["batchId"]] = p

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, query_id: str) -> list[dict]:
        with self._lock:
            return [v for _, v in sorted(self._by_query.get(query_id, {}).items())]

    def ingested(self, query_id: str) -> int:
        return sum(b.get("numInputRows", 0) for b in self.batches(query_id))

    def wait_for(self, query, timeout_s: float = 30.0) -> list[dict]:
        """Batches of a stopped query, once the listener has caught up with
        its last progress (listener events arrive asynchronously)."""
        last = query.lastProgress
        want = last["batchId"] if last else -1
        deadline = time.time() + timeout_s
        while True:
            got = self.batches(str(query.id))
            if (got and got[-1]["batchId"] >= want) or want < 0:
                return got
            if time.time() > deadline:
                raise TimeoutError(f"listener saw batches up to "
                                   f"{got[-1]['batchId'] if got else None}, want {want}")
            time.sleep(0.05)


def _option(o) -> float:
    return float(o.get()) if o.isDefined() else 0.0


def _status_store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def next_stage_id(spark) -> int:
    """Id the next stage will get; stages at or above it belong to work
    started after this call."""
    stages = _all_stages(spark)
    return 1 + max((s.stageId() for s in stages), default=-1)


def _all_stages(spark) -> list:
    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    # Spark 4.1 exposes stageList without Scala defaults: all five args.
    seq = _status_store(spark).stageList(
        jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    return [seq.apply(i) for i in range(seq.size())]


def stage_metrics(spark, first_stage_id: int) -> dict:
    """Shuffle bytes over stages from ``first_stage_id`` on, and the skew
    (longest task / median task) of the join stage: the heaviest stage that
    reads a shuffle, or the heaviest stage of all when the join broadcasts
    one side and moves nothing through a shuffle."""
    stages = [s for s in _all_stages(spark) if s.stageId() >= first_stage_id]
    out = {
        "shuffle_write_bytes": float(sum(s.shuffleWriteBytes() for s in stages)),
        "shuffle_read_bytes": float(sum(s.shuffleReadBytes() for s in stages)),
        "task_skew": 0.0,
    }
    readers = [s for s in stages if s.shuffleReadBytes() > 0] or stages
    if readers:
        join = max(readers, key=lambda s: s.executorRunTime())
        tasks = _status_store(spark).taskList(join.stageId(), join.attemptId(), 100_000)
        durations = [_option(tasks.apply(i).duration()) for i in range(tasks.size())]
        if durations and median(durations) > 0:
            out["task_skew"] = max(durations) / median(durations)
    return out


def jvm_memory(spark) -> dict[str, float]:
    """Heap use and GC time of the session's JVM since it started: the sum
    of each heap pool's peak use (an upper bound on the peak heap use), and
    the time spent in garbage collection."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    heap = [pools.get(i) for i in range(pools.size())]
    peak = sum(p.getPeakUsage().getUsed() for p in heap if p.getType().name() == "HEAP")
    gcs = mf.getGarbageCollectorMXBeans()
    return {
        "jvm.heap_peak_used_mb": peak / 2**20,
        "jvm.gc_ms": float(sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))),
    }


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc (psutil-free)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
