"""Streaming ports of the reference's golden scenarios (FIXTURES.md,
SURVEY §5.2 item 2) — deterministic event-time versions of
``TimeoutJoinTest.scala:106-164`` and ``TopicShifterTest.scala:13-43``.

No Kafka, no sleeps racing a broker: timestamps in the data drive windows
and watermarks. Outer-join (missed) emission needs the watermark to pass the
window end AND a subsequent micro-batch to run, so each scenario appends
future-dated flush batches (distinct keys, far outside every window) —
playing the role of the ongoing traffic a live pipeline always has.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import tempfile
import time

import pytest

from kafka_streams_join_spark.streaming.harness import (
    FileStream,
    drain_until_ingested,
    start_memory_sink,
)
from kafka_streams_join_spark.streaming.shifter import (
    DelayedDeliveryWriter,
    shift_stream,
)
from kafka_streams_join_spark.streaming.sinks import IdempotentParquetWriter
from kafka_streams_join_spark.streaming.topology import TimeoutJoinTopology

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
KEY = "0f1f53a0-44f5-4b84-9699-fe853c90ed1c"
OTHER_KEY = "9750c569-44c2-49e6-854e-01e0eae04bb6"
DISPLAY = '{"type":"display"}'
CLICK = '{"type":"click"}'
JOINED = '{"display":{"type":"display"},"click":{"type":"click"}}'
SECOND_DISPLAY = '{"type":"display","n":2}'
SECOND_JOINED = '{"display":{"type":"display","n":2},"click":{"type":"click"}}'
JOIN_STATE_FORMAT = "spark.sql.streaming.join.stateFormatVersion"
PROVIDER = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def _ts(delta_s: float = 0.0) -> str:
    return (T0 + dt.timedelta(seconds=delta_s)).strftime("%Y-%m-%dT%H:%M:%S.%f")


def _flush(n: int, offset_s: float) -> list[dict]:
    return [{"key": f"flush-{n}", "value": "{}", "ts": _ts(offset_s)}]


# Scenarios as (display_batches, click_batches).
# Scenario 3: an in-window click on another key:
UNRELATED_CLICK = (
    [[{"key": KEY, "value": DISPLAY, "ts": _ts(0)}]],
    [[{"key": OTHER_KEY, "value": CLICK, "ts": _ts(0.5)}]],
)
# In the next two, the first micro-batch leaves a row in join state that a
# later batch needs. A click one micro-batch before its display, inside the
# lateness:
OUT_OF_ORDER = (
    [[], [{"key": KEY, "value": DISPLAY, "ts": _ts(0)}]],
    [[{"key": KEY, "value": CLICK, "ts": _ts(0.5)}], []],
)
# a click two micro-batches after a flush moved the watermark past d.ts + W:
TOO_LATE = (
    [[{"key": KEY, "value": DISPLAY, "ts": _ts(0)}], _flush(0, 10.0), [], []],
    [[], _flush(0, 10.0), [], [{"key": KEY, "value": CLICK, "ts": _ts(0.5)}]],
)
SCENARIO_KEYS = {KEY, OTHER_KEY}
# Join state rows after the last flush: the display and the click of the
# final flush, both still inside the band of the watermark it set. A
# watermark delay of 1 hour would also keep the first flush's two rows.
FINAL_FLUSH_STATE_ROWS = 2


def _offset_confs(checkpoint: str) -> dict[int, dict]:
    """Session settings the query recorded in each offset-log entry, by
    batch ID (line 2 of ``offsets/<N>`` is the batch metadata JSON)."""
    confs = {}
    for path in glob.glob(os.path.join(checkpoint, "offsets", "[0-9]*")):
        with open(path) as f:
            confs[int(os.path.basename(path))] = json.loads(f.readlines()[1])["conf"]
    return confs


def _feed_flushes(*streams: FileStream) -> None:
    """Two watermark flushes on every stream (the global watermark is the
    min across inputs)."""
    for n, off in ((1, 3600.0), (2, 7200.0)):
        for stream in streams:
            stream.add_batch(_flush(n, off))


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_golden_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_topology(spark, tmpdir, display_batches, click_batches):
    """Build the full topology, feed the scenario's micro-batches (one list
    of rows per batch, batch i of both streams in micro-batch i) + flush
    batches, drain, read both output sinks. Returns the clicked and missed
    rows, and each query's last progress by output name."""
    assert len(display_batches) == len(click_batches)
    displays = FileStream(spark, tmpdir, "displays")
    clicks = FileStream(spark, tmpdir, "clicks")
    for d_rows, c_rows in zip(display_batches, click_batches):
        displays.add_batch(d_rows)
        clicks.add_batch(c_rows)
    _feed_flushes(displays, clicks)

    topo = TimeoutJoinTopology(window="1 second")
    d_df, c_df = displays.df(), clicks.df()
    clicked_q, clicked_sink = start_memory_sink(
        topo.clicked_displays(d_df, c_df), checkpoint_root=tmpdir
    )
    missed_q, missed_sink = start_memory_sink(
        topo.missed_displays(d_df, c_df), checkpoint_root=tmpdir
    )
    try:
        clicked_q.processAllAvailable()
        missed_q.processAllAvailable()
        clicked = spark.table(clicked_sink).collect()
        missed = spark.table(missed_sink).collect()
    finally:
        clicked_q.stop()
        missed_q.stop()
    return (
        [(r["key"], r["value"]) for r in clicked if r["key"] in SCENARIO_KEYS],
        [(r["key"], r["value"]) for r in missed if r["key"] in SCENARIO_KEYS],
        {"clicked": clicked_q.lastProgress, "missed": missed_q.lastProgress},
    )


def _run_scenario(spark, tmpdir, display_batches, click_batches):
    """The clicked and missed rows of :func:`_run_topology`."""
    clicked, missed, _ = _run_topology(spark, tmpdir, display_batches, click_batches)
    return clicked, missed


def test_scenario1_click_inside_window(spark, tmpdir):
    """TimeoutJoinTest.scala:106-125: one joined record, byte-exact value;
    missed stays empty."""
    clicked, missed = _run_scenario(
        spark,
        tmpdir,
        display_batches=[[{"key": KEY, "value": DISPLAY, "ts": _ts(0)}]],
        click_batches=[[{"key": KEY, "value": CLICK, "ts": _ts(0.5)}]],
    )
    assert clicked == [(KEY, JOINED)]
    assert missed == []


def test_scenario2_click_outside_window(spark, tmpdir):
    """TimeoutJoinTest.scala:127-144: click 2s late → no join; display lands
    on missed with its original value verbatim."""
    clicked, missed = _run_scenario(
        spark,
        tmpdir,
        display_batches=[[{"key": KEY, "value": DISPLAY, "ts": _ts(0)}]],
        click_batches=[[{"key": KEY, "value": CLICK, "ts": _ts(2.0)}]],
    )
    assert clicked == []
    assert missed == [(KEY, DISPLAY)]


def test_scenario3_unrelated_click(spark, tmpdir):
    """TimeoutJoinTest.scala:146-164: same-window click with a different key
    → key equality is part of the join predicate."""
    clicked, missed = _run_scenario(spark, tmpdir, *UNRELATED_CLICK)
    assert clicked == []
    assert missed == [(KEY, DISPLAY)]


def test_two_displays_one_key(spark, tmpdir):
    """Two displays of one key, 5 s apart, and one click 0.5 s after the
    second: the click joins only the second display, and only the first
    is reported missed."""
    clicked, missed = _run_scenario(
        spark,
        tmpdir,
        display_batches=[[
            {"key": KEY, "value": DISPLAY, "ts": _ts(0)},
            {"key": KEY, "value": SECOND_DISPLAY, "ts": _ts(5)},
        ]],
        click_batches=[[{"key": KEY, "value": CLICK, "ts": _ts(5.5)}]],
    )
    assert clicked == [(KEY, SECOND_JOINED)]
    assert missed == [(KEY, DISPLAY)]


def test_click_only_key_state_is_bounded(spark, tmpdir):
    """Scenario 3's click on OTHER_KEY never matches a display. Once the
    flushes move the watermark past it, the join evicts it: each query's
    one stateful operator, the stream-stream join, holds only the rows
    that the final flush still keeps in state."""
    clicked, missed, progress = _run_topology(spark, tmpdir, *UNRELATED_CLICK)
    assert (clicked, missed) == ([], [(KEY, DISPLAY)])
    for name, last in progress.items():
        ops = [(op.operatorName, op.numRowsTotal) for op in last.stateOperators]
        assert ops == [("symmetricHashJoin", FINAL_FLUSH_STATE_ROWS)], name


def test_click_only_key_self_evicts(spark, tmpdir):
    """A key that only ever sees a click, with no display anywhere in the
    scenario: neither output gets a row for it, and once the flushes move
    the watermark past the click, the join evicts it from state."""
    clicked, missed, progress = _run_topology(
        spark,
        tmpdir,
        display_batches=[[]],
        click_batches=[[{"key": KEY, "value": CLICK, "ts": _ts(0)}]],
    )
    assert (clicked, missed) == ([], [])
    for name, last in progress.items():
        ops = [(op.operatorName, op.numRowsTotal) for op in last.stateOperators]
        assert ops == [("symmetricHashJoin", FINAL_FLUSH_STATE_ROWS)], name


def test_out_of_order_click_joins(spark, tmpdir):
    """A click in an earlier micro-batch than its display, inside the
    lateness: the click waits in join state, the display joins it on
    arrival, and the display is not reported missed."""
    clicked, missed = _run_scenario(spark, tmpdir, *OUT_OF_ORDER)
    assert clicked == [(KEY, JOINED)]
    assert missed == []


def test_too_late_click_dropped_display_missed(spark, tmpdir):
    """A click arriving after a flush moved the watermark past d.ts + W is
    dropped as late data: no clicked row, and the display is reported
    missed even though the click is inside its band (the false "missed"
    row a dropped late click becomes).

    Spark drops late rows by the PREVIOUS batch's watermark, so a click in
    the batch right after the flush still joins; the empty batch between
    puts the click two batches after the flush."""
    clicked, missed = _run_scenario(spark, tmpdir, *TOO_LATE)
    assert clicked == []
    assert missed == [(KEY, DISPLAY)]


def test_checkpoints_record_rocksdb_join_state_v3(spark, tmpdir):
    """Both join queries of a fresh golden run keep their state in RocksDB
    with join state format v3 (one RocksDB instance per partition), as
    recorded in the metadata of the first offset-log entry."""
    clicked, missed = _run_scenario(spark, tmpdir, *OUT_OF_ORDER)
    assert (clicked, missed) == ([(KEY, JOINED)], [])
    checkpoints = glob.glob(os.path.join(tmpdir, "sink_*"))
    assert len(checkpoints) == 2
    for checkpoint in checkpoints:
        conf = _offset_confs(checkpoint)[0]
        assert conf[JOIN_STATE_FORMAT] == "3"
        assert conf[PROVIDER] == ROCKSDB


@pytest.mark.parametrize(
    "scenario, want_clicked, want_missed",
    [(OUT_OF_ORDER, [(KEY, JOINED)], []), (TOO_LATE, [], [(KEY, DISPLAY)])],
    ids=["out_of_order", "too_late"],
)
def test_restart_keeps_join_state_v2_checkpoint(
    spark, tmpdir, scenario, want_clicked, want_missed
):
    """A checkpoint written with join state format v2 resumes under the v3
    session default: both queries run the first micro-batch on v2 and stop,
    then restart from their checkpoints into an exactly-once sink for the
    remaining batches and the flushes. The output is the scenario's, with
    no row lost or duplicated, and the resumed queries stay on v2."""
    display_batches, click_batches = scenario
    displays = FileStream(spark, tmpdir, "displays")
    clicks = FileStream(spark, tmpdir, "clicks")
    topo = TimeoutJoinTopology(window="1 second")
    outputs = {"clicked": topo.clicked_displays, "missed": topo.missed_displays}

    def run_until_idle() -> None:
        d_df, c_df = displays.df(), clicks.df()
        queries = [
            fn(d_df, c_df).writeStream
            .foreachBatch(IdempotentParquetWriter(os.path.join(tmpdir, "out", name)))
            .option("checkpointLocation", os.path.join(tmpdir, "ckpt", name))
            .start()
            for name, fn in outputs.items()
        ]
        try:
            for q in queries:
                q.processAllAvailable()
        finally:
            for q in queries:
                q.stop()

    displays.add_batch(display_batches[0])
    clicks.add_batch(click_batches[0])
    session_default = spark.conf.get(JOIN_STATE_FORMAT)
    spark.conf.set(JOIN_STATE_FORMAT, "2")
    try:
        run_until_idle()
    finally:
        spark.conf.set(JOIN_STATE_FORMAT, session_default)
    assert session_default == "3"

    for d_rows, c_rows in zip(display_batches[1:], click_batches[1:]):
        displays.add_batch(d_rows)
        clicks.add_batch(c_rows)
    _feed_flushes(displays, clicks)
    run_until_idle()

    got = {}
    for name in outputs:
        confs = _offset_confs(os.path.join(tmpdir, "ckpt", name))
        assert max(confs) > 0, f"{name} never resumed past its first batch"
        assert {conf[JOIN_STATE_FORMAT] for conf in confs.values()} == {"2"}
        rows = (
            spark.read.schema("key STRING, value STRING")
            .parquet(os.path.join(tmpdir, "out", name)).collect()
        )
        got[name] = sorted(
            (r["key"], r["value"]) for r in rows if r["key"] in SCENARIO_KEYS
        )
    assert got == {"clicked": want_clicked, "missed": want_missed}


def test_scenario4_shifter_event_time(spark, tmpdir):
    """TopicShifterTest.scala:13-43, event-time form: the shifted stream
    carries identical key/value with ts+Δ (delivery-delay variant is
    DelayedDeliveryWriter; watermarks subsume it for correctness)."""
    src = FileStream(spark, tmpdir, "input")
    src.add_batch([{"key": KEY, "value": DISPLAY, "ts": _ts(0)}])
    shifted = shift_stream(src.df(), "1 second")
    q, sink = start_memory_sink(shifted, checkpoint_root=tmpdir)
    try:
        q.processAllAvailable()
        rows = spark.table(sink).collect()
    finally:
        q.stop()
    assert [(r["key"], r["value"], r["ts"]) for r in rows] == [
        (KEY, DISPLAY, T0 + dt.timedelta(seconds=1))
    ]


def test_delayed_delivery_writer_holds_batch(spark, tmpdir):
    """TopicShifterTest.scala:13-43, wall-clock form: the writer delivers
    the micro-batch unchanged, no earlier than max(ts) + Δ."""
    delta_s = 1.0
    src = FileStream(spark, tmpdir, "input")
    # a long-past first batch is delivered at once and warms the query, so
    # the timed batch below is not slowed down by query start-up
    src.add_batch(_flush(0, 0.0))
    delivered = []

    def writer_fn(batch_df):
        delivered.append((time.time(), [tuple(r) for r in batch_df.collect()]))

    q = (
        src.df().writeStream.foreachBatch(DelayedDeliveryWriter(delta_s, writer_fn))
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .start()
    )
    try:
        drain_until_ingested(q, 1)
        ts = dt.datetime.now(dt.timezone.utc) + dt.timedelta(seconds=1)
        src.add_batch([{"key": KEY, "value": DISPLAY, "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.%f")}])
        drain_until_ingested(q, 2)
    finally:
        q.stop()
    assert len(delivered) == 2
    at, rows = delivered[1]
    assert at >= ts.timestamp() + delta_s
    assert [(k, v, t.timestamp()) for k, v, t in rows] == [
        (KEY, DISPLAY, pytest.approx(ts.timestamp(), abs=1e-6))
    ]
