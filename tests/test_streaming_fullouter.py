"""Stream-stream FULL OUTER interval join — closing the streaming join
matrix (inner / left-outer / anti are certified by the golden scenarios;
``stream_interval_join`` passes ``how`` through, so full outer needs its
own emission certification: BOTH unmatched sides must surface once the
watermark proves no partner can arrive).
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest

from kafka_streams_join_spark.operators.interval_join import JoinWindow
from kafka_streams_join_spark.streaming.harness import (
    FileStream,
    start_memory_sink,
)
from kafka_streams_join_spark.streaming.topology import stream_interval_join

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(delta_s: float = 0.0) -> str:
    return (T0 + dt.timedelta(seconds=delta_s)).strftime("%Y-%m-%dT%H:%M:%S.%f")


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_fullouter_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_full_outer_emits_both_unmatched_sides(spark, tmpdir):
    """Matched key → one joined row; left-only key → (l, NULL); right-only
    key → (NULL, r). The two NULL-padded rows may only emit after the
    watermark passes their window — the flush batches guarantee it."""
    left = FileStream(spark, tmpdir, "left")
    right = FileStream(spark, tmpdir, "right")
    left.add_batch(
        [
            {"key": "both", "value": "L1", "ts": _ts(1.0)},
            {"key": "left-only", "value": "L2", "ts": _ts(2.0)},
        ]
    )
    right.add_batch(
        [
            {"key": "both", "value": "R1", "ts": _ts(1.5)},
            {"key": "right-only", "value": "R2", "ts": _ts(2.5)},
        ]
    )
    for n, off in ((1, 3600.0), (2, 7200.0)):
        left.add_batch([{"key": f"flush-{n}", "value": "{}", "ts": _ts(off)}])
        right.add_batch([{"key": f"flush-{n}", "value": "{}", "ts": _ts(off)}])

    joined = stream_interval_join(
        left.df(),
        right.df(),
        window=JoinWindow(before="1 second", after="1 second"),
        how="full_outer",
    )
    q, sink = start_memory_sink(joined, checkpoint_root=tmpdir)
    try:
        q.processAllAvailable()
        rows = spark.table(sink).collect()
    finally:
        q.stop()

    keys = {"both", "left-only", "right-only"}
    got = {
        (r["l_key"], r["l_value"], r["r_key"], r["r_value"])
        for r in rows
        if r["l_key"] in keys or r["r_key"] in keys
    }
    assert got == {
        ("both", "L1", "both", "R1"),
        ("left-only", "L2", None, None),
        (None, None, "right-only", "R2"),
    }
