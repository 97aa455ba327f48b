"""Emission-timing tests for streaming windowed aggregations: append mode
emits a window exactly once, after the watermark passes its end. Values are
covered by the oracle-checked batch twins; these pin the streaming runtime
behavior (watermark finalization, per-key session splitting).
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_streams_join_spark.streaming.harness import (
    FileStream,
    start_memory_sink,
)
from kafka_streams_join_spark.streaming.windows import (
    stream_session_agg,
    stream_tumbling_agg,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(delta_s: float = 0.0) -> str:
    return (T0 + dt.timedelta(seconds=delta_s)).strftime("%Y-%m-%dT%H:%M:%S.%f")


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_windows_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_tumbling_agg_emits_finalized_windows(spark, tmpdir):
    src = FileStream(spark, tmpdir, "input")
    src.add_batch(
        [
            {"key": "a", "value": "1", "ts": _ts(5)},
            {"key": "a", "value": "2", "ts": _ts(30)},
            {"key": "b", "value": "3", "ts": _ts(70)},
        ]
    )
    src.add_batch([{"key": "flush", "value": "{}", "ts": _ts(3600)}])
    src.add_batch([{"key": "flush2", "value": "{}", "ts": _ts(7200)}])

    agg = stream_tumbling_agg(
        src.df(),
        window="1 minute",
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    q, sink = start_memory_sink(agg, checkpoint_root=tmpdir)
    try:
        q.processAllAvailable()
        rows = spark.table(sink).collect()
    finally:
        q.stop()
    got = {
        (r["key"], r["win_start"], r["win_end"], r["n"])
        for r in rows
        if r["key"] in {"a", "b"}
    }
    assert got == {
        ("a", T0, T0 + dt.timedelta(minutes=1), 2),
        ("b", T0 + dt.timedelta(minutes=1), T0 + dt.timedelta(minutes=2), 1),
    }


def test_tumbling_sketch_agg_matches_batch_twin(spark, tmpdir):
    """Sketches compose with streaming windows: approx_count_distinct (an
    algebraic HLL agg) inside a tumbling window must produce the same
    estimates as the identical batch aggregation on the same rows —
    deferred finalization changes WHEN a window emits, never its value.
    The window spans two micro-batches, so partial sketches really do
    merge across batches before finalization."""
    rows = [
        {"key": "a", "value": f"u{i % 7}", "ts": _ts(i)} for i in range(0, 40, 2)
    ]
    rows2 = [
        {"key": "a", "value": f"u{i % 5}", "ts": _ts(i)} for i in range(40, 90, 3)
    ]
    src = FileStream(spark, tmpdir, "input")
    src.add_batch(rows)
    src.add_batch(rows2)
    src.add_batch([{"key": "flush", "value": "x", "ts": _ts(3600)}])

    sketch = [F.approx_count_distinct("value").alias("approx_users")]
    out = stream_tumbling_agg(
        src.df(), window="1 minute", key="key", aggs=sketch
    )
    q, sink = start_memory_sink(out, checkpoint_root=tmpdir)
    try:
        q.processAllAvailable()
        got = {
            (r["win_start"], r["key"]): r["approx_users"]
            for r in spark.table(sink).collect()
            if r["key"] == "a"
        }
    finally:
        q.stop()

    batch = spark.createDataFrame(
        [(r["key"], r["value"], r["ts"]) for r in rows + rows2],
        "key string, value string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    want = {
        (r["w"]["start"], r["key"]): r["approx_users"]
        for r in batch.groupBy(F.window("ts", "1 minute").alias("w"), "key")
        .agg(*sketch)
        .collect()
    }
    assert got == want
    assert len(got) == 2  # windows [0,60) and [60,120)
    # and the estimates are sane for the known cardinalities (7 and 5+7)
    vals = sorted(got.values())
    assert 0 < vals[0] <= 14


def test_session_agg_splits_on_gap(spark, tmpdir):
    """Events 10s apart fuse into one session; a 60s silence splits it."""
    src = FileStream(spark, tmpdir, "input")
    src.add_batch(
        [
            {"key": "a", "value": "1", "ts": _ts(0)},
            {"key": "a", "value": "2", "ts": _ts(10)},
            {"key": "a", "value": "3", "ts": _ts(100)},
        ]
    )
    src.add_batch([{"key": "flush", "value": "{}", "ts": _ts(3600)}])
    src.add_batch([{"key": "flush2", "value": "{}", "ts": _ts(7200)}])

    agg = stream_session_agg(src.df(), gap="30 seconds")
    q, sink = start_memory_sink(agg, checkpoint_root=tmpdir)
    try:
        q.processAllAvailable()
        rows = spark.table(sink).collect()
    finally:
        q.stop()
    got = {
        (r["win_start"], r["win_end"], r["n"]) for r in rows if r["key"] == "a"
    }
    assert got == {
        (T0, T0 + dt.timedelta(seconds=40), 2),
        (T0 + dt.timedelta(seconds=100), T0 + dt.timedelta(seconds=130), 1),
    }


def test_error_listener_observes_lifecycle(spark, tmpdir, caplog):
    """The L3 listener, which ``get_spark`` installed on the session, sees
    start and clean termination of a query and counts its ingested row
    once: installing it again on the same session is a no-op."""
    import logging
    import time

    from kafka_streams_join_spark.streaming.listener import LISTENER

    LISTENER.install(spark)
    src = FileStream(spark, tmpdir, "input")
    src.add_batch([{"key": "a", "value": "1", "ts": _ts(0)}])
    agg = stream_tumbling_agg(src.df(), window="1 minute")
    with caplog.at_level(logging.INFO, logger="kafka_streams_join_spark.streaming.listener"):
        q, _ = start_memory_sink(agg, checkpoint_root=tmpdir)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(10)
        # the bus delivers a query's events in order: once its terminated
        # event is logged, every progress event has been counted
        terminated = f"terminated cleanly: {q.id}"
        deadline = time.time() + 30
        while not any(terminated in r.getMessage() for r in caplog.records):
            assert time.time() < deadline, "no terminated event logged"
            time.sleep(0.1)
    msgs = [r.getMessage() for r in caplog.records]
    assert any("started" in m for m in msgs)
    assert LISTENER.ingested_rows(q) == 1


def test_window_helpers_emit_unique_columns(spark):
    """The flattened output must contain each column exactly once — a
    duplicated key column makes any downstream by-name reference ambiguous.
    (withWatermark + window() are no-ops on a batch frame, so schema can be
    checked without running a query.)"""
    from kafka_streams_join_spark.streaming.windows import stream_sliding_agg

    df = spark.createDataFrame(
        [("k1", dt.datetime(2024, 1, 1, 0, 0, 30), 1.0)], "key string, ts timestamp, v double"
    )
    for out in (
        stream_tumbling_agg(df, window="1 minute"),
        stream_sliding_agg(df, window="1 minute", slide="30 seconds"),
        stream_session_agg(df, gap="30 seconds"),
    ):
        assert len(out.columns) == len(set(out.columns)), out.columns
        assert out.columns[:2] == ["win_start", "win_end"]
        # by-name reference must resolve (raises AMBIGUOUS_REFERENCE if dup'd)
        out.select("key", "n")


def test_stream_table_join_enriches_per_microbatch(spark, tmpdir):
    """KTable-style lookup join: stream rows pick up dim attributes; no
    watermark, no state. Left-outer keeps unmatched stream rows."""
    from kafka_streams_join_spark.streaming.harness import (
        FileStream,
        start_memory_sink,
    )
    from kafka_streams_join_spark.streaming.topology import stream_table_join

    dim = spark.createDataFrame(
        [("a", "alpha"), ("b", "beta")], "key string, label string"
    )
    src = FileStream(spark, tmpdir, "events")
    src.add_batch(
        [
            {"key": "a", "value": "1", "ts": _ts(0)},
            {"key": "zz", "value": "2", "ts": _ts(1)},
        ]
    )
    out = stream_table_join(src.df(), dim, on="key", how="left_outer")
    q, sink = start_memory_sink(out, checkpoint_root=tmpdir)
    try:
        q.processAllAvailable()
        rows = spark.table(sink).collect()
    finally:
        q.stop()
    got = sorted((r["key"], r["t_label"]) for r in rows)
    assert got == [("a", "alpha"), ("zz", None)]

    import pytest

    with pytest.raises(ValueError, match="not supported"):
        stream_table_join(src.df(), dim, how="full_outer")


def test_late_event_is_dropped_from_closed_window(spark, tmpdir):
    """Watermark late-data semantics, pinned precisely: a late row arriving
    BEFORE its window's state is evicted still merges (the watermark bounds
    state, eviction happens at the end of the batch that emits), but a late
    row arriving AFTER eviction is dropped — the closed window is never
    re-emitted, so append mode emits each window exactly once. (The
    reference's window stores silently miss late records the same way —
    SURVEY §2.6 late-data row.)"""
    from kafka_streams_join_spark.streaming.harness import (
        FileStream,
        start_memory_sink,
    )

    src = FileStream(spark, tmpdir, "events")
    # batch 0: two rows in the 00:00 minute-window
    src.add_batch(
        [
            {"key": "k", "value": "1", "ts": _ts(10)},
            {"key": "k", "value": "2", "ts": _ts(20)},
        ]
    )
    # batch 1: advance event time far past the window end
    src.add_batch([{"key": "flush", "value": "x", "ts": _ts(7200)}])
    # batch 2: runs with the advanced watermark → the 00:00 window emits
    # (n=2) and its state is evicted at this batch's end
    src.add_batch([{"key": "flush", "value": "x", "ts": _ts(7300)}])
    # batch 3: a LATE row for the now-evicted 00:00 window → dropped
    src.add_batch([{"key": "k", "value": "late", "ts": _ts(30)}])
    # batch 4: advance again — an (incorrect) re-emission would surface here
    src.add_batch([{"key": "flush2", "value": "y", "ts": _ts(14400)}])

    out = stream_tumbling_agg(src.df(), window="1 minute", watermark_delay="5 seconds")
    q, sink = start_memory_sink(out, checkpoint_root=tmpdir)
    try:
        q.processAllAvailable()
        rows = spark.table(sink).collect()
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
    finally:
        q.stop()
    k_windows = [(r["win_start"], r["n"]) for r in rows if r["key"] == "k"]
    # exactly one emission for the 00:00 window, on-time rows only
    assert k_windows == [(T0, 2)], k_windows
    assert dropped >= 1  # the late row was dropped by the watermark, not lost
