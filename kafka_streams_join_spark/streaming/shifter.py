"""The TopicShifter delay primitive (``TopicShifter.scala:13-52``).

The reference re-publishes a topic with wall-clock delay Δ: ``diff = ts −
(now − Δ); if (diff > 0) Thread.sleep(diff); forward; commit``
(``TopicShifter.scala:28-35``), preserving key/value/event-ts — a
hand-rolled watermark that blocks its single stream thread.

In Spark the *correctness* purpose (don't evaluate the left join before the
window has provably elapsed) is subsumed by ``withWatermark`` — see
``topology.stream_timeout_join``. This module keeps the shifter as an API
citizen for parity:

- ``shift_stream``: event-time shift (the only event-time-visible effect);
  the same function as ``operators.interval_join.shift_event_time``.
- ``DelayedDeliveryWriter``: wall-clock-delayed *delivery* via foreachBatch,
  for pipelines that genuinely need processing-time holds (e.g., embargoed
  publishing). Blocks the micro-batch, not per record — a deliberate,
  bounded stall, unlike the reference's per-record sleep which collapses
  throughput under load (SURVEY §3.2).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.interval_join import shift_event_time as shift_stream


class DelayedDeliveryWriter:
    """foreachBatch writer that holds each micro-batch until wall-clock ≥
    max(ts) + Δ, then appends to ``target`` via ``writer_fn(batch_df)``.

    Parity note: the reference sleeps per record (``TopicShifter.scala:31``);
    holding per micro-batch gives the same delivery guarantee ("visible no
    earlier than ts + Δ") at batch granularity without serializing records.

    NOT for production: this exists only as the wall-clock parity twin of the
    reference's demo shifter. The per-batch ``collect()`` of the 1-row max
    aggregate is driver-side O(1), but the deliberate sleep stalls the whole
    micro-batch pipeline — real pipelines express delay with watermarks
    (``stream_timeout_join``), which keep the delay declarative and the
    executors busy.
    """

    def __init__(self, delta_seconds: float, writer_fn) -> None:
        self.delta_seconds = delta_seconds
        self.writer_fn = writer_fn

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        row = batch_df.agg(F.max("ts").alias("m")).collect()[0]
        if row["m"] is not None:
            release = row["m"].timestamp() + self.delta_seconds
            wait = release - time.time()
            if wait > 0:
                time.sleep(wait)
        self.writer_fn(batch_df)
