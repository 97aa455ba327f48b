"""``harness.drain_until_ingested``: it counts every ingested row, however
many micro-batches one drain runs, and fails loudly when rows never arrive."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from kafka_streams_join_spark.streaming.harness import (
    FileStream,
    drain_until_ingested,
    start_memory_sink,
)

RECENT_PROGRESS = "spark.sql.streaming.numRecentProgressUpdates"


def _row(n: int) -> dict:
    return {"key": f"k{n}", "value": "v", "ts": f"2024-01-01T00:00:0{n}"}


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_harness_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_drain_counts_batches_beyond_recent_progress(spark, tmpdir):
    """One drain runs five one-file micro-batches while ``recentProgress``
    keeps only two: every row still counts, and the drain returns."""
    src = FileStream(spark, tmpdir, "input")
    for n in range(5):
        src.add_batch([_row(n)])
    previous = spark.conf.get(RECENT_PROGRESS)
    spark.conf.set(RECENT_PROGRESS, "2")
    try:
        q, sink = start_memory_sink(src.df(), checkpoint_root=tmpdir)
        try:
            drain_until_ingested(q, 5, wait_s=30.0)
            assert len(q.recentProgress) <= 2
            assert spark.table(sink).count() == 5
        finally:
            q.stop()
    finally:
        spark.conf.set(RECENT_PROGRESS, previous)


def test_drain_raises_when_rows_never_arrive(spark, tmpdir):
    """A source holding fewer rows than expected: the drain gives up after
    ``wait_s`` with a ``TimeoutError`` naming both counts."""
    src = FileStream(spark, tmpdir, "input")
    src.add_batch([_row(0), _row(1)])
    q, _ = start_memory_sink(src.df(), checkpoint_root=tmpdir)
    try:
        with pytest.raises(TimeoutError, match=r"ingested only 2/3 input rows"):
            drain_until_ingested(q, 3, wait_s=2.0)
    finally:
        q.stop()
