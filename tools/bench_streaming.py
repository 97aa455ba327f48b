#!/usr/bin/env python
"""Streaming throughput micro-bench (VERDICT r12 item 4).

``bench.py`` measures the batch surface; the reference's actual capability
is streaming (``TimeoutJoinTest.scala:75-92``). This tool drives the three
flagship streaming topologies through the deterministic file harness and
reports ROWS PER SECOND from query start to fully-drained sink:

- ``streaming_interval_join``   — J1: windowed stream-stream inner join
- ``streaming_timeout_join``    — J3: watermark-driven absence detection
- ``streaming_curation``        — the composed gate→score→scrub→minhash-
                                  dedup pipeline (stateful, cross-batch)

Rows/sec here includes micro-batch scheduling overhead (maxFilesPerTrigger
=1 → one micro-batch per file), which is the honest number for the
file-harness twin: a production trigger batches far more rows per
micro-batch, so treat these as a FLOOR and a regression ledger, not a
capacity claim.

Usage: [SPARK_GRAFT_BENCH_ROUND=N] python tools/bench_streaming.py
Prints one compact JSON line per topology and appends each to
BENCH_HISTORY.jsonl (readers take the last line per metric+round).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

# join-bench sizing: few batches x many rows — micro-batch overhead is
# ~0.3 s/batch, so per-row cost needs batch sizes well above it
JOIN_BATCHES = 8
JOIN_ROWS_PER_BATCH = 25_000
CURATION_BATCHES = 4
CURATION_ROWS_PER_BATCH = 5_000
SF_MODEL = "/root/testdata/sf0.01"  # classifier fit corpus for curation


def _ts(i: int) -> str:
    """Event time: 1 ms per row keeps every join window tight and the
    watermark advancing monotonically with batch number."""
    base = 1_700_000_000_000 + i  # ms
    s, ms = divmod(base, 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s)) + f".{ms:03d}"


def _join_inputs(spark, root, *, batches: int, rows_per_batch: int):
    from kafka_streams_join_spark.streaming.harness import FileStream

    displays = FileStream(spark, root, "displays")
    clicks = FileStream(spark, root, "clicks")
    n = 0
    for b in range(batches):
        drows, crows = [], []
        for r in range(rows_per_batch):
            i = b * rows_per_batch + r
            drows.append({"key": f"k{i}", "value": f"d{i}", "ts": _ts(i)})
            # every second display gets a click 1 ms later (inside the
            # 1 s window); the rest time out
            if i % 2 == 0:
                crows.append({"key": f"k{i}", "value": f"c{i}", "ts": _ts(i + 1)})
        displays.add_batch(drows)
        clicks.add_batch(crows)
        n += len(drows) + len(crows)
    return displays, clicks, n


def bench_interval_join(spark, *, batches=JOIN_BATCHES,
                        rows_per_batch=JOIN_ROWS_PER_BATCH) -> dict:
    from kafka_streams_join_spark.operators.interval_join import JoinWindow
    from kafka_streams_join_spark.streaming.topology import stream_interval_join

    root = tempfile.mkdtemp(prefix="bench_sij_")
    try:
        displays, clicks, n_in = _join_inputs(
            spark, root, batches=batches, rows_per_batch=rows_per_batch
        )
        joined = stream_interval_join(
            displays.df(), clicks.df(), window=JoinWindow(after="1 second")
        )
        secs, n_out = _timed_drain(spark, joined, root)
        return _record("streaming_interval_join", n_in, n_out, secs,
                       batches=batches)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_timeout_join(spark, *, batches=JOIN_BATCHES,
                       rows_per_batch=JOIN_ROWS_PER_BATCH) -> dict:
    from kafka_streams_join_spark.operators.interval_join import JoinWindow
    from kafka_streams_join_spark.streaming.topology import stream_timeout_join

    root = tempfile.mkdtemp(prefix="bench_stj_")
    try:
        displays, clicks, n_in = _join_inputs(
            spark, root, batches=batches, rows_per_batch=rows_per_batch
        )
        # future-dated flush batches push the watermark past every window
        # so the absence rows actually emit (harness eviction idiom)
        flush = {"key": "flush", "value": "f",
                 "ts": "2024-06-01T00:00:00.000"}
        displays.add_batch([flush])
        clicks.add_batch([flush])
        missed = stream_timeout_join(
            displays.df(), clicks.df(), window=JoinWindow(after="1 second")
        )
        secs, n_out = _timed_drain(spark, missed, root)
        return _record("streaming_timeout_join", n_in, n_out, secs,
                       batches=batches)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_curation(spark, *, batches=CURATION_BATCHES,
                   rows_per_batch=CURATION_ROWS_PER_BATCH) -> dict:
    """The composed curation pipeline from test_streaming_curation.py at
    bench scale: length gate → classifier score → PII scrub → stateful
    minhash near-dup (cross-batch state)."""
    from kafka_streams_join_spark.queries.classifier import (
        fit_model,
        scoring_expr,
    )
    from kafka_streams_join_spark.queries.quality import scrub_expressions
    from kafka_streams_join_spark.queries.text import _TOKS
    from kafka_streams_join_spark.streaming.harness import FileStream
    from kafka_streams_join_spark.streaming.neardup import stream_dedup_minhash

    score = scoring_expr(fit_model(spark, SF_MODEL))
    root = tempfile.mkdtemp(prefix="bench_cur_")
    try:
        docs = FileStream(spark, root, "docs")
        n_in = 0
        words = ("spark join window table row scan fast merge batch value "
                 "part order line item price data").split()
        for b in range(batches):
            rows = []
            for r in range(rows_per_batch):
                i = b * rows_per_batch + r
                # ~10% exact-body duplicates (i and i+1 share a body when
                # i % 10 == 0), everything long enough to pass the gate
                stem = i - (i % 10 == 1)
                # body unique per stem (the id token makes shingle sets
                # distinct), duplicated only by the i%10==1 pairing
                body = f"doc number {stem} " + " ".join(
                    words[(stem * 7 + j) % len(words)] for j in range(30)
                )
                rows.append({
                    "key": f"d{i}",
                    "value": f"contact u{stem}@x.io {body}",
                    "ts": _ts(i),
                })
            docs.add_batch(rows)
            n_in += len(rows)
        renamed = docs.df().withColumnRenamed("value", "text")
        gated = renamed.filter(F.expr(f"size({_TOKS}) >= 5"))
        scored = gated.withColumn("quality", F.expr(score))
        scrub = scrub_expressions("text")
        scrubbed = scored.select(
            "key", "ts",
            F.expr(scrub["clean"]).alias("value"),
            F.expr(scrub["n_email"]).alias("n_email"),
            "quality",
        )
        deduped = stream_dedup_minhash(
            scrubbed, text_col="value", extra_carry=["n_email", "quality"]
        )
        secs, n_out = _timed_drain(spark, deduped, root)
        return _record("streaming_curation", n_in, n_out, secs,
                       batches=batches)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_sketch_monitors(spark, *, batches=JOIN_BATCHES,
                          rows_per_batch=JOIN_ROWS_PER_BATCH) -> list[dict]:
    """The round-14 mergeable-sketch monitors (Count-Min frequency grid,
    frozen-domain histogram) at bench scale: one keyed event stream,
    per-shard constant-size state, one snapshot row per shard per
    micro-batch. Throughput here is dominated by rows hashed/binned
    JVM-side + one np.bincount per shard-batch — the sketch state itself
    is O(1), so rows/s is the honest capacity signal."""
    from kafka_streams_join_spark.streaming.countmin import stream_countmin
    from kafka_streams_join_spark.streaming.harness import FileStream
    from kafka_streams_join_spark.streaming.histogram import stream_histogram

    shards = 8
    out = []
    for metric, build in (
        ("streaming_countmin_monitor", stream_countmin),
        ("streaming_histogram_monitor", stream_histogram),
    ):
        root = tempfile.mkdtemp(prefix="bench_mon_")
        try:
            src = FileStream(
                spark, root, "events",
                schema="ts timestamp, event_id long, user_id long, value long",
            )
            n_in = 0
            for b in range(batches):
                rows = []
                for i in range(rows_per_batch):
                    g = b * rows_per_batch + i
                    rows.append({
                        "ts": _ts(g),
                        "event_id": g,
                        "user_id": (g * g) % 997,  # skewed key reuse
                        "value": (g * 37) % 150_000,  # exercises the clamp
                    })
                src.add_batch(rows)
                n_in += len(rows)
            mon = build(src.df(), shards=shards)
            secs, n_out = _timed_drain(spark, mon, root)
            out.append(_record(metric, n_in, n_out, secs, batches=batches))
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return out


def _timed_drain(spark, df, root) -> tuple[float, int]:
    """Seconds from query start until every available micro-batch is
    committed, and the rows then in the sink."""
    from kafka_streams_join_spark.streaming.harness import start_memory_sink

    t0 = time.perf_counter()
    q, sink = start_memory_sink(df, checkpoint_root=root)
    try:
        q.processAllAvailable()
        out = spark.table(sink).collect()
    finally:
        q.stop()
    return time.perf_counter() - t0, len(out)


def _record(metric: str, n_in: int, n_out: int, secs: float,
            **extra) -> dict:
    return {
        "metric": metric,
        "value": round(n_in / secs, 1),
        "unit": "rows_per_sec",
        "rows_in": n_in,
        "rows_out": n_out,
        "secs": round(secs, 2),
        **extra,
    }


def _round_tag() -> int | None:
    env = os.environ.get("SPARK_GRAFT_BENCH_ROUND", "")
    if env.isdigit():
        return int(env)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = []
    try:
        with open(os.path.join(here, "BENCH_HISTORY.jsonl")) as f:
            for line in f:
                try:
                    r = json.loads(line).get("round")
                    if isinstance(r, int):
                        rounds.append(r)
                except ValueError:
                    continue
    except OSError:
        pass
    return max(rounds) if rounds else None


def main() -> int:
    from kafka_streams_join_spark.session import get_spark

    spark = get_spark("bench_streaming")
    rnd = _round_tag()
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    results = []
    for fn in (bench_interval_join, bench_timeout_join, bench_curation):
        rec = fn(spark)
        rec["round"] = rnd
        results.append(rec)
        print(json.dumps(rec))
    for rec in bench_sketch_monitors(spark):
        rec["round"] = rnd
        results.append(rec)
        print(json.dumps(rec))
    with open(os.path.join(here, "BENCH_HISTORY.jsonl"), "a") as f:
        for rec in results:
            f.write(json.dumps(rec) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
