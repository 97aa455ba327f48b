"""Streaming exact dedup (SURVEY §2.6).

Absence detection (J3) is not here: ``topology.stream_timeout_join`` is the
package's one streaming absence detector, a watermarked outer join on
Spark's built-in stream-stream join operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stream_dedup(
    df: DataFrame,
    subset: list[str] | None = None,
    ts: str = "ts",
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Streaming exact dedup: first row per key wins; duplicate state is
    evicted once the watermark passes (bounded state at any scale) —
    ``dropDuplicatesWithinWatermark``, the streaming twin of
    ``dedup_exact``. Guarantees dedup of records whose event times fall
    within ``watermark_delay`` of each other."""
    return df.withWatermark(ts, watermark_delay).dropDuplicatesWithinWatermark(
        subset or ["key"]
    )
