"""The streaming curation pipeline COMPOSED: quality gate (stateless
projection) → PII scrub (stateless) → classifier score (stateless,
trained offline) → MinHash near-dup (stateful dropDuplicates) — four
curation stages in ONE append-mode topology, proving the batch operator
family assembles into a live firehose pipeline, not just isolated
queries.

Expectations: a too-short doc is gated out; a near-duplicate of an
earlier doc loses all its bands to first-wins dedup; the survivor's text
arrives scrubbed and scored with the deployed model."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_streams_join_spark.streaming.harness import (
    FileStream,
    start_memory_sink,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_curation_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_composed_stream_curation(spark, tmpdir):
    from kafka_streams_join_spark.queries.classifier import (
        fit_model,
        scoring_expr,
    )
    from kafka_streams_join_spark.queries.quality import scrub_expressions
    from kafka_streams_join_spark.streaming.neardup import stream_dedup_minhash

    model = fit_model(spark, SF_SMOKE)
    score = scoring_expr(model)

    body = "the spark join window table row scan fast merge batch value part"
    rows = [
        # d1: survives everything; contains PII to scrub
        {"key": "d1", "value": f"contact bob@x.io {body}", "ts": "2024-01-01T00:00:00"},
        # d2: identical body -> near-dup of d1, dropped by the band dedup
        {"key": "d2", "value": f"contact bob@x.io {body}", "ts": "2024-01-01T00:00:01"},
        # d3: too short -> gated before the stateful stage
        {"key": "d3", "value": "tiny", "ts": "2024-01-01T00:00:02"},
    ]
    docs = FileStream(spark, tmpdir, "docs")
    docs.add_batch(rows)

    from kafka_streams_join_spark.queries.text import _TOKS

    # rename value -> text so the tokenizer and scoring contracts apply
    # VERBATIM (the test_streaming_classifier.py precedent) — no string
    # surgery on generated SQL, no hand-copied tokenizer
    renamed = docs.df().withColumnRenamed("value", "text")
    gated = renamed.filter(F.expr(f"size({_TOKS}) >= 5"))
    scored = gated.withColumn("quality", F.expr(score))
    scrub = scrub_expressions("text")
    scrubbed = scored.select(
        "key",
        "ts",
        F.expr(scrub["clean"]).alias("value"),
        F.expr(scrub["n_email"]).alias("n_email"),
        "quality",
    )
    deduped = stream_dedup_minhash(
        scrubbed, text_col="value", extra_carry=["n_email", "quality"]
    )

    q, sink = start_memory_sink(deduped, checkpoint_root=tmpdir)
    try:
        q.processAllAvailable()
        out = spark.table(sink).collect()
    finally:
        q.stop()

    keys = {r["key"] for r in out}
    assert keys == {"d1"}  # d2 deduped, d3 gated
    sample = out[0]
    assert sample["n_email"] == 1
    assert sample["quality"] is not None and 0.0 <= sample["quality"] <= 1.0
