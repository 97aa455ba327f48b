"""Streaming CDC chunk-store ingest (round 9): content-defined chunk
fingerprints composed with Structured Streaming. Certifies (1) the
row-local streaming chunker bit-matches the certified batch chunk frame
for the same rows, (2) first-wins emission per fingerprint within the
watermark — including CDC's whole point, shift-resistance: an edit at
the head of a document re-emits ONLY the chunks the edit touched,
(3) state eviction after the watermark passes."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_streams_join_spark.streaming.cdc import (
    cdc_chunk_rows,
    stream_dedup_cdc_chunks,
)
from kafka_streams_join_spark.streaming.harness import (
    FileStream,
    drain_until_ingested,
    start_memory_sink,
)

# long enough for several 32-char-expected chunks
DOC = (
    "the quick brown fox jumps over the lazy dog while the river keeps "
    "rolling past the old mill and the miller counts his sacks of grain "
    "under a pale october moon that silvers the water wheel all night"
)
DOC_EDIT = "PREFIX! " + DOC  # head edit: chunks after the first boundary survive
OTHER = (
    "completely different content talking about spark partitions and "
    "shuffles and the adaptive query execution engine replanning joins "
    "at runtime based on observed statistics from completed stages"
)
E = "another unrelated document that only exists to advance the watermark"


def _chunks(spark, texts):
    """{text: [(h, clen)]} via the same projection on a BATCH frame —
    legal because cdc_chunk_rows is a pure row-local projection."""
    df = spark.createDataFrame(
        [(f"k{i}", t, "2024-01-01T00:00:00") for i, t in enumerate(texts)],
        "key string, value string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = cdc_chunk_rows(df, "value").collect()
    keys = {f"k{i}": t for i, t in enumerate(texts)}
    out: dict[str, list] = {t: [] for t in texts}
    for r in rows:
        out[keys[r["key"]]].append((r["h"], r["clen"]))
    return out


def test_rowlocal_chunker_matches_batch_pipeline(spark, monkeypatch):
    """cdc_chunk_rows (streaming twin) must equal _chunk_frame's chunks
    for the same documents — same boundaries, fingerprints, lengths."""
    import kafka_streams_join_spark.queries.cdc_chunking as c

    docs = spark.createDataFrame(
        [(1, "s1", DOC), (2, "s2", DOC_EDIT), (3, "s1", OTHER)],
        "doc_id long, source string, text string",
    )
    monkeypatch.setattr(c, "load_table", lambda s, dd, n: docs)
    batch = sorted(
        (r["doc_id"], r["h"], r["clen"])
        for r in c._chunk_frame(spark, "unused").collect()
    )
    stream_shaped = sorted(
        (r["doc_id"], r["h"], r["clen"])
        for r in cdc_chunk_rows(
            docs.withColumnRenamed("text", "value"), "value", carry=["doc_id"]
        ).collect()
    )
    assert batch == stream_shaped and len(batch) > 6


def test_chunking_is_shift_resistant(spark):
    """The CDC property itself: a head edit only changes head chunks."""
    ch = _chunks(spark, [DOC, DOC_EDIT, OTHER])
    base, edit = set(ch[DOC]), set(ch[DOC_EDIT])
    assert len(base) >= 3
    shared = base & edit
    # the tail chunks re-align after the first content-defined boundary
    assert len(shared) >= len(base) - 2
    assert edit - base  # ...but the edited head chunk really is new
    assert not (base & set(ch[OTHER]))  # unrelated docs share nothing


@pytest.fixture()
def tmpdir():
    dd = tempfile.mkdtemp(prefix="stream_cdc_")
    yield dd
    shutil.rmtree(dd, ignore_errors=True)


def test_stream_cdc_emission_and_eviction(spark, tmpdir):
    ch = _chunks(spark, [DOC, DOC_EDIT, OTHER])
    n_doc = len(ch[DOC])
    n_other = len(ch[OTHER])
    novel_edit = len(set(ch[DOC_EDIT]) - set(ch[DOC]))
    assert 0 < novel_edit < len(ch[DOC_EDIT])

    docs = FileStream(spark, tmpdir, "docs")
    out = stream_dedup_cdc_chunks(docs.df(), watermark_delay="10 seconds")
    assert out.isStreaming
    q, sink = start_memory_sink(out, checkpoint_root=tmpdir)
    try:
        # batch 1: two distinct docs -> every chunk of both emitted
        docs.add_batch(
            [
                {"key": "d1", "value": DOC, "ts": "2024-01-01T00:00:00"},
                {"key": "d2", "value": OTHER, "ts": "2024-01-01T00:00:01"},
            ]
        )
        drain_until_ingested(q, total_rows=2)
        got = spark.table(sink).collect()
        assert len(got) == n_doc + n_other

        # batch 2: an exact re-upload ingests nothing; a head-edited
        # re-upload ingests ONLY its novel head chunks (shift resistance
        # as observed by the chunk store)
        docs.add_batch(
            [
                {"key": "d3", "value": DOC, "ts": "2024-01-01T00:00:02"},
                {"key": "d4", "value": DOC_EDIT, "ts": "2024-01-01T00:00:03"},
            ]
        )
        drain_until_ingested(q, total_rows=4)
        got = spark.table(sink).collect()
        by_key: dict[str, int] = {}
        for r in got:
            by_key[r["key"]] = by_key.get(r["key"], 0) + 1
        assert "d3" not in by_key, "exact re-upload must ingest nothing"
        assert by_key.get("d4", 0) == novel_edit

        # batch 3+4: advance the watermark past batch 1's expiry, then the
        # original re-arrives -> fully re-emitted (within-delay contract)
        docs.add_batch([{"key": "d5", "value": E, "ts": "2024-01-01T01:00:00"}])
        drain_until_ingested(q, total_rows=5)
        docs.add_batch([{"key": "d6", "value": DOC, "ts": "2024-01-01T01:00:05"}])
        drain_until_ingested(q, total_rows=6)
        got = spark.table(sink).collect()
        by_key = {}
        for r in got:
            by_key[r["key"]] = by_key.get(r["key"], 0) + 1
        assert by_key.get("d6", 0) == n_doc, by_key
    finally:
        q.stop()
