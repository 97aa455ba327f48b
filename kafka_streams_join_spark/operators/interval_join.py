"""Event-time interval equi-joins — the core capability of the reference.

Reference semantics (SURVEY §2.3):

- J1 inner windowed join (``TimeoutJoinTest.scala:75-79``): for a left record
  at event time t, match right records with the same key and
  ``right.ts ∈ [t - before, t + after]`` (``JoinWindows.of(...).before(W)`` =>
  before=W, after=0).
- J2 left-outer windowed join (``TimeoutJoinTest.scala:82-85``): same band,
  null-padded right when no match.
- J3 absence/timeout detection (``TimeoutJoinTest.scala:82-92`` + the
  TopicShifter): left records with NO same-key right record in the band —
  exactly a left-anti join, which is how Kafka Streams users compose it
  (leftJoin + filter(_._2.isEmpty)).

Scale notes (100 TB): the band predicate rides on an equi-join key, so Spark
plans a shuffled hash / sort-merge join partitioned by the key — the time band
is evaluated as a post-join filter within each key group. This is the right
plan: state per key is bounded by the band width, no cross product across
keys. Skewed keys are handled by AQE skew-join splitting (enabled in
session.py). For dimension-sized right sides, Catalyst auto-broadcasts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class JoinWindow:
    """Mirror of Kafka Streams ``JoinWindows.of(...).before(b).after(a)``.

    ``before``/``after`` are SQL interval strings, e.g. ``"1 hour"``.
    A right record r matches a left record l iff
    ``l.ts - before <= r.ts <= l.ts + after``.
    """

    before: str = "0 seconds"
    after: str = "0 seconds"

    def band(self, left_ts: Column, right_ts: Column) -> Column:
        lo = left_ts - F.expr(f"INTERVAL {self.before}")
        hi = left_ts + F.expr(f"INTERVAL {self.after}")
        return (right_ts >= lo) & (right_ts <= hi)


def _prefix(df: DataFrame, prefix: str) -> DataFrame:
    return df.select([F.col(c).alias(f"{prefix}{c}") for c in df.columns])


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    window: JoinWindow,
    how: str = "inner",
    left_ts: str = "ts",
    right_ts: str = "ts",
    left_prefix: str = "l_",
    right_prefix: str = "r_",
) -> DataFrame:
    """Equi-join on ``on`` plus event-time band predicate from ``window``.

    Returns all columns of both sides prefixed (``l_``/``r_``) so self-joins
    stay unambiguous. ``how`` ∈ inner / left_outer / left_semi / left_anti.
    The streaming joins (``streaming.topology``) watermark their inputs and
    call this, so batch and stream share one band definition.
    """
    lp = _prefix(left, left_prefix)
    rp = _prefix(right, right_prefix)
    cond = (F.col(f"{left_prefix}{on}") == F.col(f"{right_prefix}{on}")) & window.band(
        F.col(f"{left_prefix}{left_ts}"), F.col(f"{right_prefix}{right_ts}")
    )
    joined = lp.join(rp, cond, how)
    if how in ("left_semi", "left_anti", "leftsemi", "leftanti"):
        # semi/anti keep only left columns; strip the prefix back off.
        return joined.select(
            [F.col(f"{left_prefix}{c}").alias(c) for c in left.columns]
        )
    return joined


def missed_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    window: JoinWindow,
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """J3 — absence detection: left rows with no band-matching right row.

    Composes the reference's leftJoin + isEmpty-filter + mapValues
    (``TimeoutJoinTest.scala:82-91``) into the anti-join Catalyst would
    rewrite it to anyway; output schema = left schema, verbatim rows.
    """
    return interval_join(
        left, right, on, window, how="left_anti", left_ts=left_ts, right_ts=right_ts
    )


def shift_event_time(df: DataFrame, delta: str, ts: str = "ts") -> DataFrame:
    """T1 batch twin of the TopicShifter (``TopicShifter.scala:22-37``).

    The reference delays *delivery* by Δ wall-clock while preserving the event
    timestamp; in a batch/event-time world the only observable effect is a
    shifted time axis, i.e. ``ts + Δ``. A pure projection with no state, so
    it works on batch and streaming DataFrames alike; ``streaming.shifter``
    exports it as ``shift_stream`` (watermarks subsume the delay for
    correctness).
    """
    return df.withColumn(ts, F.col(ts) + F.expr(f"INTERVAL {delta}"))
