"""Streaming quality gate: the round-3 scrub operator composed with
Structured Streaming. text_pii_scrub's scale shape — a zero-shuffle
codegen'd projection — is exactly what runs on a stream with no watermark,
no state, and append-mode emission: the same column expressions applied to
a streaming DataFrame, certified here against the batch path on identical
rows (one definition, two execution modes)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_streams_join_spark.streaming.harness import (
    FileStream,
    start_memory_sink,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_quality_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _scrub_cols(df, text_col):
    """The text_pii_scrub expressions over an arbitrary input frame."""
    from kafka_streams_join_spark.queries.quality import scrub_expressions

    ex = scrub_expressions(text_col)
    return df.select(
        "key",
        F.expr(ex["n_email"]).alias("n_email"),
        F.expr(ex["n_denied"]).alias("n_denied"),
        F.expr(ex["clean"]).alias("clean"),
    )


def test_stream_scrub_matches_batch(spark, tmpdir):
    rows1 = [
        {"key": "d1", "value": "ping bob@x.io from 10.0.0.1", "ts": "2024-01-01T00:00:00"},
        {"key": "d2", "value": "the customer is waiting", "ts": "2024-01-01T00:00:01"},
    ]
    rows2 = [
        {"key": "d3", "value": "no sensitive content here", "ts": "2024-01-01T00:00:02"},
    ]
    docs = FileStream(spark, tmpdir, "docs")
    docs.add_batch(rows1)
    docs.add_batch(rows2)

    scrubbed = _scrub_cols(docs.df(), "value")
    assert scrubbed.isStreaming

    q, sink = start_memory_sink(scrubbed, checkpoint_root=tmpdir)
    try:
        q.processAllAvailable()
        got = {r.key: r for r in spark.table(sink).collect()}
    finally:
        q.stop()

    batch = spark.createDataFrame(
        [(r["key"], r["value"]) for r in rows1 + rows2], ["key", "value"]
    )
    want = {r.key: r for r in _scrub_cols(batch, "value").collect()}

    assert set(got) == set(want) == {"d1", "d2", "d3"}
    for k in want:
        assert (got[k].n_email, got[k].n_denied, got[k].clean) == (
            want[k].n_email,
            want[k].n_denied,
            want[k].clean,
        )
    assert got["d1"].clean == "ping <EMAIL> from <IP>"
    assert got["d2"].clean == "the <REDACTED> is waiting"
