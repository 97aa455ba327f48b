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
import os
import shutil
import tempfile
import time

import pytest

from kafka_streams_join_spark.streaming.harness import (
    FileStream,
    drain_until_ingested,
    read_until,
    start_memory_sink,
)
from kafka_streams_join_spark.streaming.shifter import (
    DelayedDeliveryWriter,
    shift_stream,
)
from kafka_streams_join_spark.streaming.topology import TimeoutJoinTopology

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
KEY = "0f1f53a0-44f5-4b84-9699-fe853c90ed1c"
OTHER_KEY = "9750c569-44c2-49e6-854e-01e0eae04bb6"
DISPLAY = '{"type":"display"}'
CLICK = '{"type":"click"}'
JOINED = '{"display":{"type":"display"},"click":{"type":"click"}}'


def _ts(delta_s: float = 0.0) -> str:
    return (T0 + dt.timedelta(seconds=delta_s)).strftime("%Y-%m-%dT%H:%M:%S.%f")


def _flush(n: int, offset_s: float) -> list[dict]:
    return [{"key": f"flush-{n}", "value": "{}", "ts": _ts(offset_s)}]


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_golden_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_scenario(spark, tmpdir, display_batches, click_batches):
    """Build the full topology, feed the scenario's micro-batches (one list
    of rows per batch, batch i of both streams in micro-batch i) + flush
    batches, drain, read both output sinks."""
    assert len(display_batches) == len(click_batches)
    displays = FileStream(spark, tmpdir, "displays")
    clicks = FileStream(spark, tmpdir, "clicks")
    for d_rows, c_rows in zip(display_batches, click_batches):
        displays.add_batch(d_rows)
        clicks.add_batch(c_rows)
    # then two watermark flushes on BOTH streams (global watermark is the
    # min across inputs)
    for n, off in ((1, 3600.0), (2, 7200.0)):
        displays.add_batch(_flush(n, off))
        clicks.add_batch(_flush(n, off))

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
        clicked = read_until(spark, clicked_sink, expect=1, wait_s=30.0)
        missed = read_until(spark, missed_sink, expect=1, wait_s=30.0)
    finally:
        clicked_q.stop()
        missed_q.stop()
    scenario_keys = {KEY, OTHER_KEY}
    return (
        [(r["key"], r["value"]) for r in clicked if r["key"] in scenario_keys],
        [(r["key"], r["value"]) for r in missed if r["key"] in scenario_keys],
    )


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
    clicked, missed = _run_scenario(
        spark,
        tmpdir,
        display_batches=[[{"key": KEY, "value": DISPLAY, "ts": _ts(0)}]],
        click_batches=[[{"key": OTHER_KEY, "value": CLICK, "ts": _ts(0.5)}]],
    )
    assert clicked == []
    assert missed == [(KEY, DISPLAY)]


def test_out_of_order_click_joins(spark, tmpdir):
    """A click in an earlier micro-batch than its display, inside the
    lateness: the click waits in join state, the display joins it on
    arrival, and the display is not reported missed."""
    clicked, missed = _run_scenario(
        spark,
        tmpdir,
        display_batches=[[], [{"key": KEY, "value": DISPLAY, "ts": _ts(0)}]],
        click_batches=[[{"key": KEY, "value": CLICK, "ts": _ts(0.5)}], []],
    )
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
    clicked, missed = _run_scenario(
        spark,
        tmpdir,
        display_batches=[
            [{"key": KEY, "value": DISPLAY, "ts": _ts(0)}], _flush(0, 10.0), [], [],
        ],
        click_batches=[
            [], _flush(0, 10.0), [], [{"key": KEY, "value": CLICK, "ts": _ts(0.5)}],
        ],
    )
    assert clicked == []
    assert missed == [(KEY, DISPLAY)]


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
        rows = read_until(spark, sink, expect=1, wait_s=30.0)
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
