"""Chained stream-stream interval joins: the 3-step streaming funnel.
Two StreamingSymmetricHashJoinExec operators in one append pipeline —
the reference's windowed-join capability composed twice, with
watermark-bounded state at each stage."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from kafka_streams_join_spark.streaming.harness import (
    FileStream,
    start_memory_sink,
)
from kafka_streams_join_spark.streaming.topology import stream_funnel


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_funnel_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _t(s: float) -> str:
    return f"2024-01-01T00:00:{s:06.3f}"


def test_funnel_emits_only_completed_ordered_chains(spark, tmpdir):
    views = FileStream(spark, tmpdir, "views")
    clicks = FileStream(spark, tmpdir, "clicks")
    purchases = FileStream(spark, tmpdir, "purchases")

    # u1: full chain within windows -> 1 emission
    # u2: view + click, no purchase -> nothing
    # u3: view only -> nothing
    # u4: purchase BEFORE click (out of order) -> nothing
    views.add_batch(
        [
            {"key": "u1", "value": "v", "ts": _t(1.0)},
            {"key": "u2", "value": "v", "ts": _t(1.0)},
            {"key": "u3", "value": "v", "ts": _t(1.0)},
            {"key": "u4", "value": "v", "ts": _t(1.0)},
        ]
    )
    clicks.add_batch(
        [
            {"key": "u1", "value": "c", "ts": _t(1.5)},
            {"key": "u2", "value": "c", "ts": _t(1.5)},
            {"key": "u4", "value": "c", "ts": _t(2.5)},
        ]
    )
    purchases.add_batch(
        [
            {"key": "u1", "value": "p", "ts": _t(2.0)},
            {"key": "u4", "value": "p", "ts": _t(2.0)},  # before u4's click
        ]
    )
    # watermark movers so both joins can finalize emission
    late = [{"key": "zz", "value": "x", "ts": _t(30.0)}]
    views.add_batch(late)
    clicks.add_batch(late)
    purchases.add_batch(late)

    out = stream_funnel(views.df(), clicks.df(), purchases.df())
    assert out.isStreaming

    q, sink = start_memory_sink(out, checkpoint_root=tmpdir)
    try:
        q.processAllAvailable()
        rows = spark.table(sink).collect()
    finally:
        q.stop()

    got = {(r["key"]) for r in rows}
    assert "u1" in got
    assert "u2" not in got and "u3" not in got
    u1 = next(r for r in rows if r["key"] == "u1")
    assert u1["view_ts"] < u1["click_ts"] < u1["purchase_ts"]
    # u4's purchase precedes its click: the ordered band must reject it
    assert "u4" not in got or all(
        r["click_ts"] <= r["purchase_ts"] for r in rows if r["key"] == "u4"
    )
