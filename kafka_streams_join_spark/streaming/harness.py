"""Deterministic streaming test harness (SURVEY §5.2 item 2).

Replaces the reference's live-Kafka choreography (``KafkaUtils.scala``) with
file sources and memory sinks: timestamps live in the *data*, so windows and
watermarks advance deterministically — no sleeps racing a broker (the
flakiness called out in SURVEY §5.1).

Micro-batch control: each ``add_batch`` call writes one JSON file; the
source reads with ``maxFilesPerTrigger=1``, so file N = micro-batch N.
Watermarks advance *between* batches (computed at batch end from max event
time), and watermark-driven outer-join emission happens in the batch AFTER
the watermark passes — tests append future-dated flush batches to drive
eviction, mirroring how a live pipeline's ongoing traffic does it.

``read_until`` reproduces the reference's read-until-N-or-deadline idiom
(``KafkaUtils.scala:88-91``) against the memory sink.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.streaming import StreamingQuery

RECORD_SCHEMA = "key STRING, value STRING, ts TIMESTAMP"


@dataclass
class FileStream:
    """A file-backed input stream with explicit micro-batch boundaries."""

    spark: SparkSession
    root: str
    name: str
    schema: str = RECORD_SCHEMA
    _n: int = field(default=0, init=False)

    def __post_init__(self) -> None:
        self.dir = os.path.join(self.root, self.name)
        os.makedirs(self.dir, exist_ok=True)

    def add_batch(self, rows: list[dict]) -> None:
        """One file == one micro-batch (maxFilesPerTrigger=1)."""
        name = f"batch-{self._n:05d}.json"
        path = os.path.join(self.dir, name)
        # The temp file lives outside the watched directory: the source
        # lists every name there, and a temp file it listed carries a
        # current mtime, which makes it skip the pinned (older) mtime of
        # the renamed file below as past maxFileAge — the batch is never read.
        tmp = os.path.join(self.root, f".{self.name}-{name}.tmp")
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.rename(tmp, path)  # atomic: the source never sees partial files
        # FileStreamSource orders files by modification time; same-ms writes
        # tie arbitrarily, which can reorder micro-batches and turn earlier
        # batches into dropped late data. Strictly increasing mtimes pin the
        # order to batch number.
        mtime = 1_700_000_000 + self._n
        os.utime(path, (mtime, mtime))
        self._n += 1

    def df(self) -> DataFrame:
        return (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", "1")
            .json(self.dir)
        )


def start_memory_sink(
    df: DataFrame, name: str | None = None, checkpoint_root: str | None = None
) -> tuple[StreamingQuery, str]:
    """Append-mode memory sink; returns (query, sink table name)."""
    sink = name or f"sink_{uuid.uuid4().hex[:8]}"
    writer = df.writeStream.format("memory").queryName(sink).outputMode("append")
    if checkpoint_root:
        writer = writer.option(
            "checkpointLocation", os.path.join(checkpoint_root, sink)
        )
    return writer.start(), sink


def _progress_dict(p) -> dict:
    """recentProgress entries are dicts in some PySpark versions and
    StreamingQueryProgress objects in others — normalize."""
    if isinstance(p, dict):
        return p
    if isinstance(p, str):
        return json.loads(p)
    return json.loads(p.json)


def drain_until_ingested(
    query: StreamingQuery, total_rows: int, wait_s: float = 120.0
) -> None:
    """``processAllAvailable``, then a loud check that the query ingested
    every expected input row: ``total_rows`` cumulative input rows, summed
    over the query's progress events. Re-triggers until the input-row
    ledger reaches that total, and raises ``TimeoutError`` if it has not
    after ``wait_s``, so a batch the source never read fails the caller
    instead of passing as an empty result."""
    deadline = time.time() + wait_s
    # Cumulative ledger keyed by batchId: ``recentProgress`` is a ring
    # buffer capped at spark.sql.streaming.numRecentProgressUpdates
    # (default 100) entries, so re-summing the buffer each poll silently
    # undercounts any query that exceeds 100 batches (ADVICE r8). Folding
    # every batch seen into a dict counts each batch exactly once and
    # survives the ring buffer evicting old entries — a batch only needs
    # to be OBSERVED once, and the poll loop runs far faster than batches
    # complete. The ledger lives ON the query handle, not in this call:
    # callers drain repeatedly with CUMULATIVE totals (batch 2, 4, 5, …),
    # and a per-call dict would re-lose every batch evicted between calls
    # — the same bug one level up. Entries without a batchId (version-
    # dependent progress shapes) key on their timestamp, else their full
    # JSON, so distinct batches never collapse onto one key.
    ledger_attr = "_spark_graft_ingest_ledger"
    ingested_by_batch: dict = getattr(query, ledger_attr, None) or {}
    setattr(query, ledger_attr, ingested_by_batch)
    while True:
        query.processAllAvailable()
        for p in query.recentProgress:
            d = _progress_dict(p)
            key = d.get("batchId")
            if key is None:
                key = d.get("timestamp") or json.dumps(d, sort_keys=True)
            ingested_by_batch[key] = int(d.get("numInputRows") or 0)
        ingested = sum(ingested_by_batch.values())
        if ingested >= total_rows:
            return
        if time.time() >= deadline:
            raise TimeoutError(
                f"streaming query {query.name!r} ingested only "
                f"{ingested}/{total_rows} input rows in {wait_s}s"
            )
        time.sleep(0.2)


def read_until(
    spark: SparkSession, sink: str, expect: int, wait_s: float = 5.0
) -> list[Row]:
    """Poll the memory sink until ≥ ``expect`` rows or deadline — the
    reference's consumer idiom (fresh group, earliest, stop at expect/timeout,
    ``KafkaUtils.scala:70-94``). ``expect=0`` waits out the full deadline to
    assert emptiness (how the reference proves a topic stayed empty)."""
    deadline = time.time() + wait_s
    rows = spark.sql(f"SELECT * FROM {sink}").collect()
    while len(rows) < expect or expect == 0:
        if time.time() >= deadline:
            break
        time.sleep(0.1)
        rows = spark.sql(f"SELECT * FROM {sink}").collect()
    return rows
