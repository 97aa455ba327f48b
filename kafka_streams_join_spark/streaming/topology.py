"""Watermarked stream-stream interval joins + timeout detection.

Re-expresses the reference topology (``TimeoutJoinTest.scala:53-104``)
declaratively:

- The reference declares one band twice: the clicked join (``:78``,
  ``JoinWindows.of(...).before(W)`` with clicks on the left) and the missed
  join (``:85``, ``.after(W)`` with displays on the left) both mean
  ``c.ts ∈ [d.ts, d.ts + W]``. Here both outputs use that one band, with
  displays on the left, built by ``operators.interval_join``.
- J1 "clicked displays" (``:75-79``): windowed inner join on the band,
  with watermarks bounding state.
- J3 "missed displays" (``:82-92`` + ``TopicShifter.scala``): the reference
  needed a hand-rolled delay (TopicShifter) so that "null right side" meant
  "genuinely no click". Spark's watermark subsumes the shifter entirely: a
  watermarked LEFT OUTER join emits the null-padded row exactly when the
  watermark passes the window end — then ``IS NULL`` + project gives the
  missed stream (the reference's own filter/mapValues composition,
  ``:86-91``).

Scale notes: Spark plans StreamingSymmetricHashJoinExec — both streams
shuffle-partitioned by key, per-key window-bounded state in the state store,
watermark-driven eviction. That is the same symmetric hash join Kafka
Streams runs, minus the hand-rolled delay and with RocksDB-backed state and
exactly-once checkpointing for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.payload import join_payload
from ..operators.interval_join import JoinWindow, interval_join


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "key",
    window: JoinWindow = JoinWindow(),
    how: str = "inner",
    left_ts: str = "ts",
    right_ts: str = "ts",
    left_prefix: str = "l_",
    right_prefix: str = "r_",
    watermark_delay: str | None = None,
    watermark_left: bool = True,
) -> DataFrame:
    """Streaming twin of ``operators.interval_join``: watermark both inputs
    by ``watermark_delay`` (default before+after, the band's full span),
    then apply the same equi+band join (``TimeoutJoinTest.scala:78,85``).
    The watermark tag survives the prefixing alias, so Spark derives the
    state watermark from the band condition.

    ``watermark_left=False`` is for CHAINED stateful pipelines: an input
    that is itself the output of a watermarked join already carries a
    propagated watermark, and redefining one is a Spark analysis error
    (multiple-stateful-operator rule) — see ``stream_funnel``."""
    delay = watermark_delay or f"{window.before} {window.after}"
    if watermark_left:
        left = left.withWatermark(left_ts, delay)
    return interval_join(
        left, right.withWatermark(right_ts, delay), on, window, how,
        left_ts, right_ts, left_prefix, right_prefix,
    )


def stream_timeout_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "key",
    window: JoinWindow = JoinWindow(after="1 second"),
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark_delay: str | None = None,
) -> DataFrame:
    """J3 — absence detection: left rows that saw NO same-key right row in
    the window, emitted when the watermark proves no such row can arrive.

    The literal reference composition (leftJoin → filter(_._2.isEmpty) →
    mapValues, ``TimeoutJoinTest.scala:82-91``) with the watermark playing
    the TopicShifter's role. Output schema = left schema, verbatim rows."""
    j = stream_interval_join(
        left, right, on, window, "left_outer", left_ts, right_ts,
        watermark_delay=watermark_delay,
    )
    # any right column is NULL iff no match (join key can't be null here)
    return j.filter(F.col(f"r_{on}").isNull()).select(
        [F.col(f"l_{c}").alias(c) for c in left.columns]
    )


def stream_table_join(
    stream: DataFrame,
    table: DataFrame,
    on: str = "key",
    how: str = "inner",
    table_prefix: str = "t_",
) -> DataFrame:
    """KStream-KTable-style lookup join: enrich a stream against a static
    (batch) table. The reference has no lookup joins (SURVEY §2.3 taxonomy);
    this is the engine-surface completion every Kafka Streams user reaches
    for next.

    Spark executes a stream-static join without any state store: the static
    side is planned per micro-batch (broadcast when dimension-sized), so
    there is no watermark requirement and no state to evict — the cheapest
    join in the streaming engine. At 100 TB the dim either broadcasts or
    pre-buckets on the key (sources/bucketing.py) for a shuffle-free probe.
    ``how`` ∈ inner / left_outer (stream side preserved)."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"stream-static join preserves the stream side; how={how!r} "
            "is not supported (right/full would need the unbounded stream "
            "as build side)"
        )
    tp = table.select([F.col(c).alias(f"{table_prefix}{c}") for c in table.columns])
    return stream.join(tp, stream[on] == tp[f"{table_prefix}{on}"], how)


class TimeoutJoinTopology:
    """The whole reference topology (``TimeoutJoinTest.buildStreams``,
    ``TimeoutJoinTest.scala:53-104``): two input streams → two output
    streams, both on one band ``JoinWindow(after=W)`` with displays on the
    left. The reference's ``.before(W)`` at ``:78`` (clicks on the left)
    and ``.after(W)`` at ``:85`` (displays on the left) are that same band.

    - ``clicked``: inner windowed join, payload built by byte-exact string
      interpolation (``:76-78``).
    - ``missed``: displays with no click within W (``:82-92``).

    Input streams carry the Kafka-record shape (key, value, ts) per
    SURVEY §1.3. W mirrors ``val Window = 1.second``
    (``TimeoutJoinTest.scala:17``).
    """

    def __init__(self, window: str = "1 second") -> None:
        self.band = JoinWindow(after=window)

    def clicked_displays(self, displays: DataFrame, clicks: DataFrame) -> DataFrame:
        """Displays joined with same-key clicks in [d.ts, d.ts + W]."""
        j = stream_interval_join(
            displays, clicks, on="key", window=self.band,
            how="inner", left_prefix="d_", right_prefix="c_",
        )
        return j.select(
            F.col("d_key").alias("key"),
            join_payload(F.col("d_value"), F.col("c_value")).alias("value"),
        )

    def missed_displays(self, displays: DataFrame, clicks: DataFrame) -> DataFrame:
        """Displays with no same-key click in [d.ts, d.ts + W] (``.after`` +
        null filter + mapValues, ``TimeoutJoinTest.scala:82-91``)."""
        missed = stream_timeout_join(displays, clicks, on="key", window=self.band)
        return missed.select("key", "value")


def stream_funnel(
    views: DataFrame,
    clicks: DataFrame,
    purchases: DataFrame,
    on: str = "key",
    step_window: JoinWindow | None = None,
) -> DataFrame:
    """Ordered 3-step streaming funnel — the reference's windowed-join
    capability COMPOSED: two chained watermarked stream-stream interval
    joins (view → click within W, then → purchase within W of the click).
    Spark plans two StreamingSymmetricHashJoinExec operators in one
    append-mode pipeline (multiple stateful operators); each join's state
    is watermark-bounded exactly like the single-join topologies, so the
    chain's state is 2·W per key — this is the streaming twin of the
    batch ``events_funnel_conversion``.

    Output: (key, view_ts, click_ts, purchase_ts), one row per completed
    chain, emitted in append mode once both joins have matched."""
    w = step_window or JoinWindow(after="2 seconds")
    j1 = stream_interval_join(
        views, clicks, on=on, window=w, how="inner",
        left_prefix="v_", right_prefix="c_",
    )
    mid = j1.select(
        F.col(f"v_{on}").alias(on),
        # rebuild view_ts through unix_micros to STRIP its event-time tag:
        # a stream may carry at most one event-time column, and the chain's
        # clock from here on is the click time
        F.timestamp_micros(F.unix_micros(F.col("v_ts"))).alias("view_ts"),
        F.col("c_ts").alias("ts"),
    )
    j2 = stream_interval_join(
        mid, purchases, on=on, window=w, how="inner",
        left_prefix="m_", right_prefix="p_",
        # mid carries j1's propagated watermark; redefining it is an error
        watermark_left=False,
    )
    return j2.select(
        F.col(f"m_{on}").alias(on),
        F.col("m_view_ts").alias("view_ts"),
        F.col("m_ts").alias("click_ts"),
        F.col("p_ts").alias("purchase_ts"),
    )
