"""Trained-model deployment to a stream: fit the logistic classifier on
the batch corpus, inline the 10-number model into a scoring expression,
and run it over a streaming frame — the offline-train / online-score
boundary of every production quality classifier. The scoring projection
is stateless and zero-shuffle, so it streams with no watermark and
append-mode emission; the stream's scores must bit-match (a) the batch
application of the same expression and (b) the training query's own
scores for the same documents."""

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
    d = tempfile.mkdtemp(prefix="stream_clf_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_scoring_matches_batch_and_training(spark, tmpdir):
    from kafka_streams_join_spark.queries.classifier import (
        fit_model,
        quality_classifier_logreg,
        scoring_expr,
    )
    from kafka_streams_join_spark.sources.parquet import load_table

    model = fit_model(spark, SF_SMOKE)
    expr = scoring_expr(model)

    # ground truth: the training query's own scores
    trained = {
        r["doc_id"]: r["score"]
        for r in quality_classifier_logreg(spark, SF_SMOKE).collect()
    }

    # stream a handful of real documents through the inlined model
    docs = [
        r.asDict()
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .limit(5)
        .collect()
    ]
    rows = [
        {"key": str(d["doc_id"]), "value": d["text"], "ts": "2024-01-01T00:00:00"}
        for d in docs
    ]
    stream = FileStream(spark, tmpdir, "docs")
    stream.add_batch(rows)

    scored = stream.df().withColumnRenamed("value", "text").select(
        "key", F.expr(expr).alias("score")
    )
    assert scored.isStreaming

    q, sink = start_memory_sink(scored, checkpoint_root=tmpdir)
    try:
        q.processAllAvailable()
        out = spark.table(sink).collect()
    finally:
        q.stop()

    got = {int(r["key"]): r["score"] for r in out}
    assert len(got) == len(rows)
    for d in docs:
        assert got[d["doc_id"]] == trained[d["doc_id"]], d["doc_id"]
