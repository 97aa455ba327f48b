"""Set-up and the three workloads, run against the package's public API.

Every workload returns its end-to-end metrics, its per-layer metrics and
how many operations it attempted and how many failed. An operation is one
query run whose output is checked: a streaming drain, a live query, a batch
twin pass. Oracle time is kept out of every timed metric.

Latency of an output row is the time its result was in the sink minus the
time its inputs were all available:

- ``live_timeout``: from click creation (clicked) or display creation + W
  (missed) to the end of the micro-batch that emitted the row;
- ``replay_clicked``: from the start of the drain (the whole backlog is
  there) to the end of the micro-batch that first emitted a row for the
  click (clicked drain) or display (a drain of the same backlog through
  ``missed_displays``), one sample per event;
- ``batch_twins``: every row of a pass reaches the sink when the pass
  commits, so the latency of a ``j1`` (clicked twin) or ``j3`` (missed twin)
  row is its pass time; percentiles are over the rows of all timed passes,
  so with a few passes p90 is close to the slowest of them.

Every workload reports every end-to-end metric. Two of them are defined
per workload:

- ``throughput_rps``: input rows per second of a pass (``batch_twins``) or
  of a closed-loop drain of a backlog written before the timer starts
  (``replay_clicked``; on ``live_timeout``, 30 s of its own traffic drained
  through both outputs at once, after the open loop), never the offered
  rate;
- ``ingest_rps``: rows ingested per second of generation (``live_timeout``);
  rows per second of loading the events table through
  ``sources.parquet.load_table`` and scanning it once (``batch_twins``).
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import re
import shutil
import subprocess
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from kafka_streams_join_spark.queries.registry import ORACLES, QUERIES
from kafka_streams_join_spark.session import get_spark
from kafka_streams_join_spark.sources.parquet import load_table
from kafka_streams_join_spark.streaming.harness import (
    RECORD_SCHEMA,
    FileStream,
    start_memory_sink,
)
from kafka_streams_join_spark.streaming.topology import TimeoutJoinTopology

from . import check, gen
from .observe import (
    ProgressCollector,
    Tracer,
    jvm_memory,
    next_stage_id,
    progress_end,
    progress_start,
    stage_metrics,
    vm_hwm_mb,
)
from .stats import median, percentile, slope

_ID = re.compile(r'"id":(\d+)')  # event ids inside a record value
DRAIN_TIMEOUT_S = 120.0
REPLAY = gen.ReplaySpec()
# drains of the backlog, cycled until time is up (at least once through)
REPLAY_PATTERN = ("clicked", "missed")
LIVE = gen.LiveSpec()
# Micro-batches of a fresh JVM run up to 2x slower until the JIT has compiled
# the join and state-store paths. live_timeout first drains a backlog of
# its own traffic (LIVE_DRAIN_S seconds of it, in a few large files) through
# both outputs at once, untimed. The live generator then runs warm-up +
# measured window + tail, and events of the tail are emitted only by the
# final flush. Last, on a JVM as warm as it gets in a run, the backlog is
# drained again for throughput_rps.
LIVE_DRAIN_S = 30
LIVE_DRAIN_FILES = 3
LIVE_WARM_S = 2.0
LIVE_TAIL_S = 2.5
BATCH_ROWS = 2_000_000
BATCH_WARM_ROUNDS = 2  # the first timed round still ran slow after one
BATCH_QUERIES = ("j1_interval_join_inner", "j2_interval_join_left_outer", "j3_missed_anti")

END_TO_END = {
    "setup_s": "s",
    "throughput_rps": "1/s",
    "clicked_latency_p50_ms": "ms",
    "clicked_latency_p90_ms": "ms",
    "missed_latency_p50_ms": "ms",
    "missed_latency_p90_ms": "ms",
    "ingest_rps": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "harness.latest_offset_ms": "ms",
    "harness.get_batch_ms": "ms",
    "harness.input_lag_rows": "count",
    "harness.sink_rows_out": "count",
    "topology.batches": "count",
    "topology.nodata_batches": "count",
    "topology.trigger_ms_p50": "ms",
    "topology.query_planning_ms": "ms",
    "topology.add_batch_ms": "ms",
    "topology.wal_commit_ms": "ms",
    "topology.commit_offsets_ms": "ms",
    "topology.state_rows_total_max": "count",
    "topology.state_rows_updated": "count",
    "topology.state_rows_removed": "count",
    "topology.state_updates_ms": "ms",
    "topology.state_removals_ms": "ms",
    "topology.state_commit_ms": "ms",
    "topology.state_memory_bytes_max": "bytes",
    "topology.rows_dropped_by_watermark": "count",
    "topology.rocksdb_put_count": "count",
    "topology.rocksdb_get_count": "count",
    "topology.shuffle_write_bytes": "bytes",
    "topology.shuffle_read_bytes": "bytes",
    "topology.task_skew": "ratio",
    "topology.match_ratio": "ratio",
    "topology.one_core_rps": "1/s",
    "interval_join.j1_s": "s",
    "interval_join.j2_s": "s",
    "interval_join.j3_s": "s",
    "interval_join.plan_ms": "ms",
    "interval_join.shuffle_bytes": "bytes",
    "interval_join.task_skew": "ratio",
    "oracle.check_s": "s",
    "oracle.mismatched_rows": "count",
    "gen.rows": "count",
    "gen.late_ms_p90": "ms",
    "trace.overhead_pct": "%",
    "jvm.heap_peak_used_mb": "MB",
    "jvm.gc_ms": "ms",
}


@dataclass
class Session:
    """One Spark session, set up (and timed) once per benchmark process."""

    root: str
    work: str
    spark: object
    progress: ProgressCollector
    jvm_pid: int
    setup_s: float
    get_spark_s: float
    warmup_s: float


@dataclass
class Measure:
    """State of one measured run of one workload."""

    sess: Session
    seed: int
    seconds: float
    tracer: Tracer
    name: str
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    oracle_s: float = 0.0
    mismatched_rows: int = 0

    @property
    def spark(self):
        return self.sess.spark

    def path(self, *parts: str) -> str:
        p = os.path.join(self.sess.work, self.name, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def checked(self, what: str, mismatched: int) -> None:
        self.attempted += 1
        self.mismatched_rows += mismatched
        if mismatched:
            self.failed += 1
            self.notes.append(f"FAILED {what}: {mismatched} rows differ from the oracle")

    def latency(self, prefix: str, runs: list[list[float]]) -> None:
        """p50 and p90 of each run's samples, reported as the median over
        runs: pooling drains would put a percentile on the edge between two
        drains' batches, where it flips from one run to the next."""
        for q in (50, 90):
            self.metrics[f"{prefix}_p{q}_ms"] = median([percentile(s, q)[0] for s in runs])
        self.notes.append(f"{prefix}: {sum(map(len, runs))} samples in {len(runs)} runs")


# --------------------------------------------------------------------------
# set-up
# --------------------------------------------------------------------------


def spark_conf(tmp: str) -> dict[str, str]:
    """JVM scratch inside the checkout and no hsperfdata file under /tmp.
    The young generation has a fixed size: when G1 sized it to its pause
    goal, the same run spread 20-38% in speed between processes on a 4 vCPU
    VM. The rest of the heap still grows only as retained data needs, so
    peak RSS follows heap use. Fair scheduling lets concurrent queries get a
    pool each (``start_in_pool``)."""
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn512m",
        "spark.ui.showConsoleProgress": "false",
        "spark.scheduler.mode": "FAIR",
    }


def warm_up(spark) -> None:
    """The first job of a session: the session can schedule and run work.
    Join and streaming hot paths are warmed by each workload's own untimed
    phase."""
    spark.range(1000).count()


def stop_spark(spark) -> None:
    """Stop the session and the JVM the Python driver launched, and wait for
    it to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def setup(root: str, work: str, tracer: Tracer, master: str | None = None) -> Session:
    """``get_spark`` plus a warm-up action. In a fresh process this is the
    cold start every run pays: JVM launch, classpath loading, first job."""
    with tracer.span("session.get_spark"):
        t0 = time.perf_counter()
        spark = get_spark("joinbench", master=master,
                          extra_conf=spark_conf(os.path.join(work, "tmp")))
        t1 = time.perf_counter()
    with tracer.span("session.warmup"):
        warm_up(spark)
        t2 = time.perf_counter()
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    # Spark output is compared as instants; INT96 would need a legacy reader.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    progress = ProgressCollector()
    spark.streams.addListener(progress)
    return Session(root, work, spark, progress, jvm_pid, t2 - t0, t1 - t0, t2 - t1)


def peak_rss_mb(sess: Session) -> float:
    """Peak RSS of this driver process plus that of the JVM serving the run."""
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(sess.jvm_pid)


# --------------------------------------------------------------------------
# streaming helpers
# --------------------------------------------------------------------------


@dataclass
class Drain:
    start: float  # epoch s, query start
    end: float  # epoch s, every input row ingested
    rows: list[tuple[str, str]]
    batches: list[dict]


def process_until(m: Measure, query, rows_in: int, timeout_s: float = DRAIN_TIMEOUT_S) -> None:
    """Trigger until the listener has counted ``rows_in`` ingested rows."""
    deadline = time.time() + timeout_s
    while True:
        query.processAllAvailable()
        if m.sess.progress.ingested(str(query.id)) >= rows_in:
            return
        if time.time() > deadline:
            raise TimeoutError(f"query {query.name} did not ingest {rows_in} rows in {timeout_s}s")
        time.sleep(0.05)


def start_in_pool(m: Measure, df, pool: str):
    """Start a memory-sink query in its own scheduler pool. Two queries
    sharing one FIFO pool take turns unevenly: one of them can run several
    batches behind the other for a whole run."""
    sc = m.spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try:
        return start_memory_sink(df, checkpoint_root=m.path("ckpt"))
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)


def finish_query(m: Measure, query, sink: str) -> tuple[list[tuple[str, str]], list[dict]]:
    """Stop a drained query; its sink rows in emission order and its batches."""
    query.stop()
    batches = m.sess.progress.wait_for(query)
    with m.tracer.span("harness.sink_read", sink=sink):
        rows = [(r[0], r[1]) for r in m.spark.sql(f"SELECT key, value FROM {sink}").collect()]
    return rows, batches


def batch_ends(rows: list, batches: list[dict]) -> list[float]:
    """End time of the micro-batch that emitted each sink row. The memory
    sink keeps rows in batch order and each progress event counts the rows
    its batch wrote."""
    ends = []
    for b in batches:
        ends += [progress_end(b)] * b["sink"]["numOutputRows"]
    if len(ends) != len(rows):
        raise RuntimeError(f"batches report {len(ends)} output rows, "
                           f"sink holds {len(rows)}")
    return ends


def topology_layers(m: Measure, batches: list[dict], clicked_in: int, clicked_out: int) -> None:
    """Per-layer metrics of the micro-batch engine and the state store.
    Times are means per micro-batch (state times summed over tasks, as
    Spark reports them); counts are totals over the run."""
    if not batches:
        return
    n = len(batches)
    dur = [b.get("durationMs", {}) for b in batches]
    ops = [[op for op in b.get("stateOperators", [])] for b in batches]

    def mean_phase(k: str) -> float:
        return sum(d.get(k, 0) for d in dur) / n

    def op_sum(b_ops: list[dict], k: str) -> float:
        return sum(op.get(k, 0) for op in b_ops)

    def custom(b_ops: list[dict], k: str) -> float:
        return sum(op.get("customMetrics", {}).get(k, 0) for op in b_ops)

    m.layers.update({
        "harness.latest_offset_ms": mean_phase("latestOffset"),
        "harness.get_batch_ms": mean_phase("getBatch"),
        "harness.sink_rows_out": sum(b["sink"]["numOutputRows"] for b in batches),
        "topology.batches": n,
        "topology.nodata_batches": sum(1 for b in batches if b["numInputRows"] == 0),
        "topology.trigger_ms_p50": median([d.get("triggerExecution", 0) for d in dur]),
        "topology.query_planning_ms": mean_phase("queryPlanning"),
        "topology.add_batch_ms": mean_phase("addBatch"),
        "topology.wal_commit_ms": mean_phase("walCommit"),
        "topology.commit_offsets_ms": mean_phase("commitOffsets"),
        "topology.state_rows_total_max": max(op_sum(o, "numRowsTotal") for o in ops),
        "topology.state_rows_updated": sum(op_sum(o, "numRowsUpdated") for o in ops),
        "topology.state_rows_removed": sum(op_sum(o, "numRowsRemoved") for o in ops),
        "topology.state_updates_ms": sum(op_sum(o, "allUpdatesTimeMs") for o in ops) / n,
        "topology.state_removals_ms": sum(op_sum(o, "allRemovalsTimeMs") for o in ops) / n,
        "topology.state_commit_ms": sum(op_sum(o, "commitTimeMs") for o in ops) / n,
        "topology.state_memory_bytes_max": max(op_sum(o, "memoryUsedBytes") for o in ops),
        "topology.rows_dropped_by_watermark": sum(
            op_sum(o, "numRowsDroppedByWatermark") for o in ops),
        "topology.rocksdb_put_count": sum(custom(o, "rocksdbPutCount") for o in ops),
        "topology.rocksdb_get_count": sum(custom(o, "rocksdbGetCount") for o in ops),
        "topology.match_ratio": clicked_out / clicked_in if clicked_in else 0.0,
    })


def shuffle_layers(m: Measure, per_drain: list[dict]) -> None:
    if per_drain:
        m.layers["topology.shuffle_write_bytes"] = median([s["shuffle_write_bytes"] for s in per_drain])
        m.layers["topology.shuffle_read_bytes"] = median([s["shuffle_read_bytes"] for s in per_drain])
        m.layers["topology.task_skew"] = median([s["task_skew"] for s in per_drain])


# --------------------------------------------------------------------------
# replay_clicked
# --------------------------------------------------------------------------


def write_backlog(m: Measure, d_files: list[list[dict]], c_files: list[list[dict]],
                  name: str) -> tuple[FileStream, FileStream, int]:
    """Write a backlog, one file per micro-batch. The last file of each
    stream carries the flush row, so the drain ends with one no-data batch
    that evicts every window."""
    d_files = d_files[:-1] + [d_files[-1] + [gen.flush_row("displays")]]
    c_files = c_files[:-1] + [c_files[-1] + [gen.flush_row("clicks")]]
    displays = FileStream(m.spark, m.path(name), "displays")
    clicks = FileStream(m.spark, m.path(name), "clicks")
    for d_rows, c_rows in zip(d_files, c_files):
        displays.add_batch(d_rows)
        clicks.add_batch(c_rows)
    return displays, clicks, sum(map(len, d_files + c_files))


def replay_inputs(m: Measure, spec: gen.ReplaySpec, files: int | None = None,
                  name: str = "replay") -> tuple[FileStream, FileStream, int]:
    """The replay backlog, or its first ``files`` files."""
    with m.tracer.span("gen.backlog"):
        d_files, c_files = (f[:files] for f in gen.replay_backlog(m.seed, spec))
        return write_backlog(m, d_files, c_files, name)


def replay_drain(m: Measure, topo: TimeoutJoinTopology, kind: str,
                 displays: FileStream, clicks: FileStream, rows_in: int) -> Drain:
    """Drain the whole backlog through one topology output."""
    build = topo.clicked_displays if kind == "clicked" else topo.missed_displays
    with m.tracer.span(f"topology.{kind}_displays"):
        df = build(displays.df(), clicks.df())
    with m.tracer.span("harness.drain", query=kind):
        parent = m.tracer.current()
        start = time.time()
        q, sink = start_memory_sink(df, checkpoint_root=m.path("ckpt"))
        process_until(m, q, rows_in)
        end = time.time()
    rows, batches = finish_query(m, q, sink)
    m.tracer.add_batches(batches, parent)
    return Drain(start, end, rows, batches)


def per_event_latency(dr: Drain, kind: str) -> list[float]:
    """Latency of each click (clicked) or display (missed) that reached the
    sink: one sample per input event, however many rows it joined, so a
    click on a hot key does not outweigh the rest."""
    idx = 1 if kind == "clicked" else 0  # ids in a row: [display, click]
    first: dict[str, float] = {}
    for (_, value), end in zip(dr.rows, batch_ends(dr.rows, dr.batches)):
        eid = _ID.findall(value)[idx]
        first[eid] = min(first.get(eid, end), end)
    return [(e - dr.start) * 1000 for e in first.values()]


def replay_clicked(m: Measure) -> None:
    spec = REPLAY
    displays, clicks, rows_in = replay_inputs(m, spec)
    w_ms = spec.window_s * 1000
    topo = TimeoutJoinTopology(window=f"{spec.window_s} seconds")
    with m.tracer.span("oracle.expected"):
        t = time.perf_counter()
        con = check.stream_inputs(displays.dir, clicks.dir)
        want = {k: check.expected(con, k, w_ms) for k in ("clicked", "missed")}
        m.oracle_s += time.perf_counter() - t
    rates, lat = [], {"clicked": [], "missed": []}
    batches, shuffles = [], []
    ingested, busy_s = 0, 0.0
    clicked_out = clicked_in = 0
    # The first drain of a fresh session compiles the join's hot paths: one
    # untimed drain of the backlog's first files warms them.
    warm_d, warm_c, warm_in = replay_inputs(m, spec, files=1, name="replay-warm")
    replay_drain(m, topo, "clicked", warm_d, warm_c, warm_in)
    deadline = time.time() + m.seconds
    for i, kind in enumerate(itertools.cycle(REPLAY_PATTERN)):
        if time.time() >= deadline and i >= len(REPLAY_PATTERN):
            break
        first_stage = next_stage_id(m.spark) if m.tracer.enabled else 0
        dr = replay_drain(m, topo, kind, displays, clicks, rows_in)
        if m.tracer.enabled:
            shuffles.append(stage_metrics(m.spark, first_stage))
        with m.tracer.span("oracle.check", query=kind):
            t = time.perf_counter()
            m.checked(f"{kind} drain {i}", check.mismatched(dr.rows, want[kind]))
            m.oracle_s += time.perf_counter() - t
        lat[kind].append(per_event_latency(dr, kind))
        batches += dr.batches
        ingested += rows_in
        busy_s += dr.end - dr.start
        if kind == "clicked":
            rates.append(rows_in / (dr.end - dr.start))
            clicked_in += rows_in
            clicked_out += len(dr.rows)
    m.metrics["throughput_rps"] = median(rates)
    m.metrics["ingest_rps"] = ingested / busy_s
    m.latency("clicked_latency", lat["clicked"])
    m.latency("missed_latency", lat["missed"])
    m.notes.append(f"replay: {len(rates)} clicked drains of {rows_in} rows, "
                   f"rates {[round(r) for r in rates]}")
    topology_layers(m, batches, clicked_in, clicked_out)
    shuffle_layers(m, shuffles)
    lags, cum = [], {}
    for b in batches:  # backlog left when each batch started, per drain
        lags.append(rows_in - cum.get(b["runId"], 0))
        cum[b["runId"]] = cum.get(b["runId"], 0) + b["numInputRows"]
    m.layers["harness.input_lag_rows"] = median(lags)
    m.layers["gen.rows"] = rows_in


def one_core_rps(root: str, work: str, seed: int) -> float:
    """One clicked drain of the replay backlog on ``local[1]``: the
    single-threaded reference for the streaming figures. Call with no
    session active."""
    sess = setup(root, work, Tracer(False, "one-core"), master="local[1]")
    m = Measure(sess, seed, 0, Tracer(False, "one-core"), "one_core")
    displays, clicks, rows_in = replay_inputs(m, REPLAY)
    dr = replay_drain(m, TimeoutJoinTopology(window=f"{REPLAY.window_s} seconds"),
                      "clicked", displays, clicks, rows_in)
    return rows_in / (dr.end - dr.start)


# --------------------------------------------------------------------------
# live_timeout
# --------------------------------------------------------------------------


@dataclass
class LiveRun:
    t0_ms: int
    gen_stats: dict
    clicked: tuple[list, list[dict]]  # (sink rows, batches)
    missed: tuple[list, list[dict]]
    displays_dir: str
    clicks_dir: str


def run_live_topology(m: Measure, feed: Callable[[str, int], dict], window_ms: int = 1000,
                      timeout_s: float = DRAIN_TIMEOUT_S) -> LiveRun:
    """Both reference outputs as two queries with the default trigger over
    a file source that takes every new file each trigger. ``feed(dir, t0_ms)``
    writes the inputs and returns generator stats with ``rows``; then a
    future-dated flush drains every window and both sinks are read."""
    base = m.path("live")
    dirs = {s: os.path.join(base, s) for s in ("displays", "clicks")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)

    def source(s: str):
        return m.spark.readStream.schema(RECORD_SCHEMA).json(dirs[s])

    topo = TimeoutJoinTopology(window=f"{window_ms} milliseconds")
    queries = {}
    with m.tracer.span("harness.drain", query="live"):
        parent = m.tracer.current()
        for kind, build in (("clicked", topo.clicked_displays), ("missed", topo.missed_displays)):
            with m.tracer.span(f"topology.{kind}_displays"):
                df = build(source("displays"), source("clicks"))
            with m.tracer.span("topology.start", query=kind):
                queries[kind] = start_in_pool(m, df, kind)
        try:
            t0_ms = int(time.time() * 1000) + 1000
            with m.tracer.span("gen.live"):
                stats = feed(base, t0_ms)
            with m.tracer.span("gen.flush"):
                for stream, d in dirs.items():
                    gen.write_file(d, "part-flush.json", [gen.flush_row(stream)])
            for q, _ in queries.values():
                process_until(m, q, stats["rows"] + 2, timeout_s)
        finally:
            results = {k: finish_query(m, q, sink) for k, (q, sink) in queries.items()}
    for _, batches in results.values():
        m.tracer.add_batches(batches, parent)
    return LiveRun(t0_ms, stats, results["clicked"], results["missed"],
                   dirs["displays"], dirs["clicks"])


def drain_both(m: Measure, displays: FileStream, clicks: FileStream, rows_in: int,
               window_ms: int, name: str) -> tuple[float, dict[str, list]]:
    """Drain a backlog through both topology outputs at once: the seconds
    from starting the queries until both ingested every row, and each
    output's sink rows."""
    topo = TimeoutJoinTopology(window=f"{window_ms} milliseconds")
    queries = {}
    with m.tracer.span("harness.drain", query=name):
        parent = m.tracer.current()
        t = time.perf_counter()
        try:
            for kind, build in (("clicked", topo.clicked_displays),
                                ("missed", topo.missed_displays)):
                with m.tracer.span(f"topology.{kind}_displays"):
                    df = build(displays.df(), clicks.df())
                queries[kind] = start_in_pool(m, df, kind)
            for q, _ in queries.values():
                process_until(m, q, rows_in)
            secs = time.perf_counter() - t
        finally:
            results = {k: finish_query(m, q, sink) for k, (q, sink) in queries.items()}
    for _, batches in results.values():
        m.tracer.add_batches(batches, parent)
    return secs, {k: rows for k, (rows, _) in results.items()}


def live_drain_rps(m: Measure, displays: FileStream, clicks: FileStream, rows_in: int,
                   spec: gen.LiveSpec) -> float:
    """Closed loop: input rows per second of draining a backlog of live
    traffic, written before the timer starts, through both outputs at once.
    The outputs are checked against the oracle."""
    secs, rows = drain_both(m, displays, clicks, rows_in, spec.window_ms, "live-drain")
    with m.tracer.span("oracle.check", query="live-drain"):
        t = time.perf_counter()
        con = check.stream_inputs(displays.dir, clicks.dir)
        for kind in ("clicked", "missed"):
            m.checked(f"live drain {kind}",
                      check.mismatched(rows[kind], check.expected(con, kind, spec.window_ms)))
        m.oracle_s += time.perf_counter() - t
    return rows_in / secs


def live_seconds(m: Measure) -> float:
    """How long the live generator runs."""
    return LIVE_WARM_S + m.seconds + LIVE_TAIL_S


def live_feed(m: Measure) -> Callable[[str, int], dict]:
    """Feed that runs the open-loop generator as a separate process."""

    def feed(base: str, t0_ms: int) -> dict:
        cmd = [sys.executable, "-m", "joinbench.gen", "--out", base, "--seed", str(m.seed),
               "--seconds", str(live_seconds(m)), "--t0-ms", str(t0_ms)]
        proc = subprocess.Popen(cmd, cwd=m.sess.root)
        try:
            code = proc.wait(timeout=live_seconds(m) + 60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if code != 0:
            raise RuntimeError(f"generator exited with {code}")
        with open(os.path.join(base, "gen_stats.json")) as f:
            return json.load(f)

    return feed


def check_live(m: Measure, run: LiveRun, window_ms: int) -> None:
    with m.tracer.span("oracle.check", query="live"):
        t = time.perf_counter()
        con = check.stream_inputs(run.displays_dir, run.clicks_dir)
        for kind, (rows, _) in (("clicked", run.clicked), ("missed", run.missed)):
            m.checked(f"live {kind}", check.mismatched(rows, check.expected(con, kind, window_ms)))
        m.oracle_s += time.perf_counter() - t


def live_timeout(m: Measure) -> None:
    spec = LIVE
    with m.tracer.span("gen.backlog"):
        d_files, c_files = gen.live_backlog(m.seed, LIVE_DRAIN_S, spec, LIVE_DRAIN_FILES)
        backlog = write_backlog(m, d_files, c_files, "live-drain")
    with m.tracer.span("topology.warm"):
        drain_both(m, *backlog, spec.window_ms, "warm")
    first_stage = next_stage_id(m.spark) if m.tracer.enabled else 0
    run = run_live_topology(m, live_feed(m), spec.window_ms)
    if m.tracer.enabled:
        shuffle_layers(m, [stage_metrics(m.spark, first_stage)])
    check_live(m, run, spec.window_ms)
    schedule = gen.live_schedule(m.seed, live_seconds(m), spec)
    d_due: dict[int, int] = {}
    c_due: dict[int, int] = {}
    for e in schedule:
        (d_due if e.stream == "displays" else c_due)[int(_ID.search(e.value).group(1))] = e.due_ms
    lo, hi = LIVE_WARM_S * 1000, (LIVE_WARM_S + m.seconds) * 1000
    lat: dict[str, list[float]] = {"clicked": [], "missed": []}
    for kind, (rows, batches) in (("clicked", run.clicked), ("missed", run.missed)):
        for (_, value), end in zip(rows, batch_ends(rows, batches)):
            ids = [int(x) for x in _ID.findall(value)]
            # clicked: {"display":{..id..},"click":{..id..}}; missed: the display
            t = c_due[ids[1]] if kind == "clicked" else d_due[ids[0]] + spec.window_ms
            if lo <= t <= hi:
                lat[kind].append(end * 1000 - run.t0_ms - t)
    if min(lat["clicked"] + lat["missed"]) < 0:
        raise RuntimeError("an output row was attributed to a batch that ended "
                           "before its input existed")
    m.latency("clicked_latency", [lat["clicked"]])
    m.latency("missed_latency", [lat["missed"]])
    gen_rows = run.gen_stats["rows"]
    rates = []
    for _, batches in (run.clicked, run.missed):
        cum, points = 0, []
        for b in batches:
            cum += b["numInputRows"]
            end = progress_end(b)
            if lo <= end * 1000 - run.t0_ms <= hi:
                points.append((end, cum))
        rates.append(slope(points))
    m.metrics["ingest_rps"] = sum(rates) / len(rates)
    m.metrics["throughput_rps"] = live_drain_rps(m, *backlog, spec)
    c_batches = run.clicked[1]
    topology_layers(m, c_batches + run.missed[1], gen_rows, len(run.clicked[0]))
    # backlog when each batch started: delivered by then minus ingested before
    written = sorted((e.deliver_ms // spec.tick_ms + 1) * spec.tick_ms for e in schedule)
    lags = []
    for _, batches in (run.clicked, run.missed):
        cum = 0
        for b in batches:
            start_ms = progress_start(b) * 1000 - run.t0_ms
            if lo <= start_ms <= hi:
                lags.append(bisect.bisect_right(written, start_ms) - cum)
            cum += b["numInputRows"]
    m.layers["harness.input_lag_rows"] = median(lags) if lags else 0.0
    m.layers["gen.rows"] = gen_rows
    m.layers["gen.late_ms_p90"] = percentile(run.gen_stats["late_ms"], 90)[0]


# --------------------------------------------------------------------------
# batch_twins
# --------------------------------------------------------------------------


@dataclass
class Pass:
    secs: float
    rows: int
    plan_ms: float = 0.0
    stages: dict = field(default_factory=dict)


def batch_pass(m: Measure, con, sf_dir: str, name: str, tag: str) -> Pass:
    """Run one registered twin into parquet (timed), then check that output
    against the twin's registered oracle (untimed)."""
    out = m.path("out", f"{name}-{tag}")
    p = Pass(0.0, 0)
    with m.tracer.span(f"interval_join.{name}"):
        df = QUERIES[name](m.spark, sf_dir)
        if m.tracer.enabled:
            t = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            p.plan_ms = (time.perf_counter() - t) * 1000
            first_stage = next_stage_id(m.spark)
        t = time.perf_counter()
        df.write.mode("overwrite").parquet(out)
        p.secs = time.perf_counter() - t
    if m.tracer.enabled:
        p.stages = stage_metrics(m.spark, first_stage)
    with m.tracer.span("oracle.check", query=name):
        t = time.perf_counter()
        p.rows, diff = check.batch_mismatched(con, name, out, ORACLES[name])
        m.oracle_s += time.perf_counter() - t
    m.checked(f"{name} pass {tag}", diff)
    shutil.rmtree(out)
    return p


INGEST_SCANS = 3  # per round: one scan takes a few tenths of a second


def ingest_pass(m: Measure, sf_dir: str) -> list[float]:
    """Seconds of each of ``INGEST_SCANS`` loads of the events table through
    the package's loader, each scanning every row once."""
    secs = []
    for _ in range(INGEST_SCANS):
        with m.tracer.span("sources.load_table"):
            t = time.perf_counter()
            load_table(m.spark, sf_dir, "events").write.format("noop").mode("overwrite").save()
            secs.append(time.perf_counter() - t)
    return secs


def batch_twins(m: Measure) -> None:
    events = m.path("sf", "events.parquet")
    with m.tracer.span("gen.corpus"):
        gen.write_batch_corpus(events, m.seed, BATCH_ROWS)
    sf_dir = os.path.dirname(events)
    con = check.batch_connection(events)
    # The first rounds compile the joins' hot paths; they are checked but
    # not timed.
    for i in range(BATCH_WARM_ROUNDS):
        ingest_pass(m, sf_dir)
        for name in BATCH_QUERIES:
            batch_pass(m, con, sf_dir, name, f"warm{i}")
    rounds: list[dict[str, Pass]] = []
    scans: list[float] = []
    deadline = time.time() + m.seconds
    while len(rounds) < 2 or time.time() < deadline:
        scans += ingest_pass(m, sf_dir)
        rounds.append({name: batch_pass(m, con, sf_dir, name, str(len(rounds)))
                       for name in BATCH_QUERIES})
    total = [sum(p.secs for p in r.values()) for r in rounds]
    m.metrics["throughput_rps"] = median([len(BATCH_QUERIES) * BATCH_ROWS / s for s in total])
    m.metrics["ingest_rps"] = median([BATCH_ROWS / s for s in scans])
    for prefix, name in (("clicked_latency", BATCH_QUERIES[0]), ("missed_latency", BATCH_QUERIES[2])):
        rows = [ms for r in rounds for ms in [r[name].secs * 1000] * r[name].rows]
        for q in (50, 90):
            m.metrics[f"{prefix}_p{q}_ms"] = percentile(rows, q)[0]
        m.notes.append(f"{prefix}: {len(rows)} rows in {len(rounds)} passes")
    m.notes.append(f"batch: {len(rounds)} rounds of {BATCH_ROWS} events, "
                   f"round seconds {[round(s, 3) for s in total]}")
    for i, name in enumerate(BATCH_QUERIES, 1):
        m.layers[f"interval_join.j{i}_s"] = median([r[name].secs for r in rounds])
    if m.tracer.enabled:
        passes = [p for r in rounds for p in r.values()]
        m.layers["interval_join.plan_ms"] = median([p.plan_ms for p in passes])
        m.layers["interval_join.shuffle_bytes"] = median(
            [p.stages["shuffle_write_bytes"] for p in passes])
        m.layers["interval_join.task_skew"] = median([p.stages["task_skew"] for p in passes])
    m.layers["gen.rows"] = BATCH_ROWS


WORKLOADS: dict[str, Callable[[Measure], None]] = {
    "replay_clicked": replay_clicked,
    "live_timeout": live_timeout,
    "batch_twins": batch_twins,
}

# The figure tracing overhead is judged on, and whether higher is better.
HEADLINE = {
    "replay_clicked": ("throughput_rps", True),
    "live_timeout": ("clicked_latency_p50_ms", False),
    "batch_twins": ("throughput_rps", True),
}


def finish(m: Measure) -> None:
    """Metrics every workload reports the same way."""
    m.metrics["setup_s"] = m.sess.setup_s
    m.metrics["peak_rss_mb"] = peak_rss_mb(m.sess)
    m.notes.append(f"peak rss: driver {vm_hwm_mb(os.getpid()):.0f} MB, "
                   f"jvm {vm_hwm_mb(m.sess.jvm_pid):.0f} MB")
    m.layers.update(jvm_memory(m.spark))
    m.layers["session.get_spark_s"] = m.sess.get_spark_s
    m.layers["session.warmup_s"] = m.sess.warmup_s
    m.layers["oracle.check_s"] = m.oracle_s
    m.layers["oracle.mismatched_rows"] = m.mismatched_rows
