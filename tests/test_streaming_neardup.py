"""Streaming MinHash-band near-dup: the dedup family composed with
Structured Streaming (the round-4 sibling of test_streaming_quality /
test_streaming_decontam). Certifies (1) the row-local signature twin
bit-matches the batch aggregate pipeline, (2) first-wins emission per
band signature within the watermark, (3) state eviction: after the
watermark passes, a re-arriving duplicate emits again."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_streams_join_spark.streaming.harness import (
    FileStream,
    drain_until_ingested,
    start_memory_sink,
)
from kafka_streams_join_spark.streaming.neardup import (
    minhash_band_rows,
    stream_dedup_minhash,
)

A = "the quick brown fox jumps over the lazy dog near the river bank today"
B = "completely different content talking about spark partitions and shuffles"
A_EDIT = A.replace("jumps", "leaps")
E = "another unrelated document that only exists to advance the watermark"


def _bands(spark, texts):
    """{text: {(band, sig)}} via the same projection on a BATCH frame —
    legal because minhash_band_rows is a pure row-local projection."""
    df = spark.createDataFrame(
        [(f"k{i}", t, "2024-01-01T00:00:00") for i, t in enumerate(texts)],
        "key string, value string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = minhash_band_rows(df, "value").collect()
    keys = {f"k{i}": t for i, t in enumerate(texts)}
    out: dict[str, set] = {t: set() for t in texts}
    for r in rows:
        out[keys[r["key"]]].add((r["band"], r["band_sig"]))
    return out


def test_rowlocal_signature_matches_batch_pipeline(spark, monkeypatch):
    """minhash_signature_cols (streaming twin) must equal
    _doc_shingle_sets' aggregate minima for the same documents."""
    import kafka_streams_join_spark.queries.dedup as d

    docs = spark.createDataFrame(
        [(1, A), (2, B), (3, A_EDIT)], "doc_id long, text string"
    )
    monkeypatch.setattr(d, "load_table", lambda s, dd, n: docs)
    batch = {r["doc_id"]: r for r in d._doc_shingle_sets(spark, "unused").collect()}
    local = {
        r["doc_id"]: r
        for r in d.minhash_signature_cols(docs, "text").collect()
    }
    assert set(batch) == set(local) == {1, 2, 3}
    for doc_id in batch:
        for i in range(d._K):
            assert batch[doc_id][f"mh{i}"] == local[doc_id][f"mh{i}"], (
                doc_id,
                i,
            )


@pytest.fixture()
def tmpdir():
    dd = tempfile.mkdtemp(prefix="stream_neardup_")
    yield dd
    shutil.rmtree(dd, ignore_errors=True)


def test_stream_neardup_emission_and_eviction(spark, tmpdir):
    bands = _bands(spark, [A, B, A_EDIT])
    n_bands = len(bands[A])
    shared = len(bands[A] & bands[A_EDIT])
    assert n_bands == 8
    assert 0 < shared  # a one-word edit keeps some bands
    assert shared < n_bands  # ...and changes at least one

    docs = FileStream(spark, tmpdir, "docs")
    out = stream_dedup_minhash(docs.df(), watermark_delay="10 seconds")
    assert out.isStreaming
    q, sink = start_memory_sink(out, checkpoint_root=tmpdir)
    try:
        # batch 1: two distinct docs -> every band of both emitted
        docs.add_batch(
            [
                {"key": "d1", "value": A, "ts": "2024-01-01T00:00:00"},
                {"key": "d2", "value": B, "ts": "2024-01-01T00:00:01"},
            ]
        )
        drain_until_ingested(q, total_rows=2)
        got = spark.table(sink).collect()
        assert len(got) == 16

        # batch 2: an exact dup emits nothing; a near-dup emits only its
        # novel bands (the LSH candidate signal)
        docs.add_batch(
            [
                {"key": "d3", "value": A, "ts": "2024-01-01T00:00:02"},
                {"key": "d4", "value": A_EDIT, "ts": "2024-01-01T00:00:03"},
            ]
        )
        drain_until_ingested(q, total_rows=4)
        got = spark.table(sink).collect()
        by_key: dict[str, int] = {}
        for r in got:
            by_key[r["key"]] = by_key.get(r["key"], 0) + 1
        assert "d3" not in by_key, "exact dup must be fully suppressed"
        assert by_key.get("d4", 0) == n_bands - shared
        # doc-level rules over the surviving counts:
        #   d3 survived 0 < 8 bands -> near-dup; d4 shares bands -> candidate
        assert by_key["d1"] == by_key["d2"] == n_bands

        # batch 3: advance the watermark far past batch 1's expiry with an
        # unrelated doc (watermark moves at batch END, evicting state)
        docs.add_batch([{"key": "d5", "value": E, "ts": "2024-01-01T01:00:00"}])
        drain_until_ingested(q, total_rows=5)
        # batch 4: the same text as d1 re-arrives AFTER eviction -> fully
        # re-emitted (within-delay dedup is the contract, not forever)
        docs.add_batch([{"key": "d6", "value": A, "ts": "2024-01-01T01:00:05"}])
        drain_until_ingested(q, total_rows=6)
        got = spark.table(sink).collect()
        by_key = {}
        for r in got:
            by_key[r["key"]] = by_key.get(r["key"], 0) + 1
        assert by_key.get("d6", 0) == n_bands, by_key
    finally:
        q.stop()


def test_stream_novelty_counts_chains_two_stateful_ops(spark, tmpdir):
    """dropDuplicatesWithinWatermark chained into a windowed aggregation
    (two stateful operators, one append pipeline): a novel doc reports
    all 8 bands, an exact dup reports nothing (zero surviving rows → no
    group), and a near-dup reports its novel-band count — finalized when
    the watermark passes the window."""
    from kafka_streams_join_spark.streaming.neardup import stream_novelty_counts

    bands = _bands(spark, [A, A_EDIT])
    novel_edit = len(bands[A_EDIT] - bands[A])
    assert 0 < novel_edit < 8

    docs = FileStream(spark, tmpdir, "docs")
    out = stream_novelty_counts(
        docs.df(), window="1 minute", watermark_delay="10 seconds"
    )
    q, sink = start_memory_sink(out, checkpoint_root=tmpdir)
    try:
        docs.add_batch(
            [
                {"key": "d1", "value": A, "ts": "2024-01-01T00:00:01"},
                {"key": "d2", "value": A, "ts": "2024-01-01T00:00:02"},
                {"key": "d3", "value": A_EDIT, "ts": "2024-01-01T00:00:03"},
            ]
        )
        # advance the watermark far past the window end to finalize it
        docs.add_batch([{"key": "w", "value": E, "ts": "2024-01-01T02:00:00"}])
        drain_until_ingested(q, total_rows=4)
        got = {
            r["key"]: r["novel_bands"]
            for r in spark.table(sink).collect()
        }
    finally:
        q.stop()
    assert got.get("d1") == 8  # novel
    assert "d2" not in got  # exact dup: zero surviving bands, no group
    assert got.get("d3") == novel_edit  # LSH candidate: partial novelty


def test_stream_neardup_short_doc_fallback(spark, tmpdir):
    """< 3-token records have no shingles; they dedup on exact normalized
    text instead of colliding on NULL signatures."""
    docs = FileStream(spark, tmpdir, "docs")
    out = stream_dedup_minhash(docs.df(), watermark_delay="10 seconds")
    q, sink = start_memory_sink(out, checkpoint_root=tmpdir)
    try:
        docs.add_batch(
            [
                {"key": "s1", "value": "hi there", "ts": "2024-01-01T00:00:00"},
                {"key": "s2", "value": "bye now", "ts": "2024-01-01T00:00:01"},
                {"key": "s3", "value": "hi   there", "ts": "2024-01-01T00:00:02"},
            ]
        )
        q.processAllAvailable()
        got = spark.table(sink).collect()
        by_key: dict[str, int] = {}
        for r in got:
            by_key[r["key"]] = by_key.get(r["key"], 0) + 1
        # distinct short docs both emit 8 band rows; the whitespace
        # variant normalizes to s1's text and is suppressed
        assert by_key.get("s1") == 8 and by_key.get("s2") == 8
        assert "s3" not in by_key
    finally:
        q.stop()


def test_neardup_respects_non_default_column_names(spark, tmpdir):
    """Regression: ts/key parameters must be forwarded into the band-row
    carry list — a renamed stream resolves and keeps its columns."""
    from pyspark.sql import functions as F
    from kafka_streams_join_spark.streaming.neardup import (
        stream_dedup_minhash,
        stream_novelty_counts,
    )
    from kafka_streams_join_spark.streaming.harness import FileStream

    s = FileStream(spark, tmpdir, "renamed")
    s.add_batch([{"key": "a", "value": "x y z", "ts": "2024-01-01T00:00:00"}])
    df = (
        s.df()
        .withColumnRenamed("key", "doc")
        .withColumnRenamed("ts", "event_ts")
    )
    deduped = stream_dedup_minhash(df, ts="event_ts", key="doc")
    assert {"doc", "event_ts", "band", "band_sig"} <= set(deduped.columns)
    novel = stream_novelty_counts(df, key="doc", ts="event_ts")
    assert {"win_start", "win_end", "doc", "novel_bands"} <= set(novel.columns)
