"""Streaming decontamination: the batch probe (pipeline_decontaminate)
composed with Structured Streaming — documents arrive as a stream, the
benchmark shingle dictionary is a STATIC broadcast side, matches emit in
append mode with no stateful shuffle. The point under test: the LLM-pipeline
operators are stream-composable because their scale shape (tiny static dict,
map-side probe) is exactly the stream-static join Spark supports without
watermark state.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_streams_join_spark.streaming.harness import (
    FileStream,
    start_memory_sink,
)

N = 3  # shingle width for the test corpus (tiny docs)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_decontam_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _shingles(df, text_col):
    toks = f"split(regexp_replace(trim({text_col}), '\\\\s+', ' '), ' ')"
    # CASE guard for docs shorter than N tokens: Spark's sequence(1, 0)
    # counts DOWN and slice(toks, 0, N) throws (same guard as production)
    return df.select(
        "key",
        F.explode(
            F.expr(
                f"CASE WHEN size({toks}) < {N} THEN array()"
                f" ELSE transform(sequence(1, size({toks}) - {N} + 1),"
                f"   i -> array_join(slice({toks}, i, {N}), ' ')) END"
            )
        ).alias("gram"),
    )


def test_stream_probe_matches_static_benchmark(spark, tmpdir):
    bench_docs = spark.createDataFrame(
        [("b1", "the quick brown fox jumps")], ["key", "text"]
    )
    bench = F.broadcast(_shingles(bench_docs, "text").select("gram").distinct())

    docs = FileStream(spark, tmpdir, "docs")
    # batch 1: one contaminated doc (shares 'quick brown fox' + overlap),
    # one clean doc; batch 2: another contaminated doc
    docs.add_batch(
        [
            {"key": "d1", "value": "a quick brown fox appears", "ts": "2024-01-01T00:00:00"},
            {"key": "d2", "value": "totally unrelated words here", "ts": "2024-01-01T00:00:01"},
            {"key": "d4", "value": "hi", "ts": "2024-01-01T00:00:01.5"},
        ]
    )
    docs.add_batch(
        [
            {"key": "d3", "value": "brown fox jumps again", "ts": "2024-01-01T00:00:02"},
        ]
    )

    stream_grams = _shingles(docs.df(), "value")
    matched = stream_grams.join(bench, "gram")

    q, sink = start_memory_sink(matched, checkpoint_root=tmpdir)
    try:
        q.processAllAvailable()
        rows = spark.table(sink).collect()
    finally:
        q.stop()

    got = {(r.key, r.gram) for r in rows}
    assert got == {
        ("d1", "quick brown fox"),
        ("d3", "brown fox jumps"),
    }
    # the clean doc must not emit
    assert not any(k == "d2" for k, _ in got)
