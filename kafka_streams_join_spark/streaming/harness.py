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

The reference's consumer polls until N rows or a deadline
(``KafkaUtils.scala:70-94``). Here ``processAllAvailable`` returns only
once every available micro-batch is committed to the sink, and a batch's
output is final when it commits, so callers read the memory sink directly.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .listener import LISTENER

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


def drain_until_ingested(
    query: StreamingQuery, total_rows: int, wait_s: float = 120.0
) -> None:
    """``processAllAvailable``, then a loud check that the query ingested
    every expected input row: ``total_rows`` cumulative input rows of this
    run, as counted by the session's ``listener.LISTENER``. Re-triggers
    until the count reaches that total (listener events arrive
    asynchronously), and raises ``TimeoutError`` if it has not after
    ``wait_s``, so a batch the source never read fails the caller instead
    of passing as an empty result."""
    deadline = time.time() + wait_s
    while True:
        query.processAllAvailable()
        ingested = LISTENER.ingested_rows(query)
        if ingested >= total_rows:
            return
        if time.time() >= deadline:
            raise TimeoutError(
                f"streaming query {query.name!r} ingested only "
                f"{ingested}/{total_rows} input rows in {wait_s}s"
            )
        time.sleep(0.2)
