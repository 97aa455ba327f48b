"""Streaming exact dedup (``streaming/stateful.py``). The timeout join's
golden scenarios live in ``test_streaming_golden.py``."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest

from kafka_streams_join_spark.streaming.harness import (
    FileStream,
    start_memory_sink,
)
from kafka_streams_join_spark.streaming.stateful import stream_dedup

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
KEY = "0f1f53a0-44f5-4b84-9699-fe853c90ed1c"
OTHER_KEY = "9750c569-44c2-49e6-854e-01e0eae04bb6"


def _ts(delta_s: float = 0.0) -> str:
    return (T0 + dt.timedelta(seconds=delta_s)).strftime("%Y-%m-%dT%H:%M:%S.%f")


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_stateful_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_dedup_within_watermark(spark, tmpdir):
    """Exact streaming dedup: three records for one key inside the watermark
    collapse to the first; a distinct key survives."""
    src = FileStream(spark, tmpdir, "input")
    src.add_batch(
        [
            {"key": KEY, "value": "v1", "ts": _ts(0)},
            {"key": KEY, "value": "v2", "ts": _ts(1)},
        ]
    )
    src.add_batch(
        [
            {"key": KEY, "value": "v3", "ts": _ts(2)},
            {"key": OTHER_KEY, "value": "w1", "ts": _ts(2)},
        ]
    )
    deduped = stream_dedup(src.df(), subset=["key"], watermark_delay="1 minute")
    q, sink = start_memory_sink(deduped, checkpoint_root=tmpdir)
    try:
        q.processAllAvailable()
        rows = spark.table(sink).collect()
    finally:
        q.stop()
    assert sorted((r["key"], r["value"]) for r in rows) == [
        (KEY, "v1"),
        (OTHER_KEY, "w1"),
    ]
