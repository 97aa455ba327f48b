"""Streaming lifecycle observability (SURVEY §2.5 L3) and ingest counts.

The reference logs stream-thread failures through an uncaught-exception
handler (``TopicShifter.scala:54-57``). Structured Streaming's equivalent is
a ``StreamingQueryListener``: queries fail per-query (not per-thread), and
the terminated event carries the exception.

``session.get_spark`` installs ``LISTENER`` on every session. It also
counts each query run's ingested rows for ``harness.drain_until_ingested``:
the bus delivers every batch's progress, ``query.recentProgress`` only the
last ``spark.sql.streaming.numRecentProgressUpdates``.
"""

from __future__ import annotations

import logging
import threading
import weakref

from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

logger = logging.getLogger(__name__)


class QueryListener:
    """Log every query lifecycle transition; surface terminal exceptions at
    ERROR — the reference's uncaught-exception handler, per query. Count
    ingested rows per run ID, which, unlike the query ID, is new on every
    restart from a checkpoint.

    The up-calls read only the fields they use from Spark's Java events:
    pyspark's ``StreamingQueryListener`` converts every field over py4j
    first, about 130 ms per join progress event on 4 vCPU, on the bus
    thread that every later listener waits behind."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._ingested: dict[str, int] = {}
        self._sessions: weakref.WeakSet[SparkSession] = weakref.WeakSet()

    def install(self, spark: SparkSession) -> None:
        """Register on ``spark``'s listener bus, once per session:
        ``getOrCreate`` hands back the same session on repeat calls, and a
        second registration would count every batch twice."""
        with self._lock:
            if spark not in self._sessions:
                ensure_callback_server_started(spark.sparkContext._gateway)
                spark._jsparkSession.streams().addListener(
                    spark._jvm.org.apache.spark.sql.streaming
                    .PythonStreamingQueryListenerWrapper(self)
                )
                self._sessions.add(spark)

    def ingested_rows(self, query: StreamingQuery) -> int:
        """Input rows of every batch of this run of ``query`` that the
        listener has seen so far (events arrive asynchronously)."""
        with self._lock:
            return self._ingested.get(str(query.runId), 0)

    def onQueryStarted(self, event) -> None:
        logger.info(
            "streaming query started: %s (%s)", event.name(), event.id().toString()
        )

    def onQueryProgress(self, event) -> None:
        p = event.progress()
        run, rows = p.runId().toString(), p.numInputRows()
        with self._lock:
            self._ingested[run] = self._ingested.get(run, 0) + rows
        logger.debug("progress run=%s rows=%s", run, rows)

    def onQueryIdle(self, event) -> None:
        logger.debug("streaming query idle: %s", event.id().toString())

    def onQueryTerminated(self, event) -> None:
        qid, exception = event.id().toString(), event.exception()
        if exception.isDefined():
            logger.error("streaming query %s FAILED: %s", qid, exception.get())
        else:
            logger.info("streaming query terminated cleanly: %s", qid)

    class Java:
        implements = ["org.apache.spark.sql.streaming.PythonStreamingQueryListener"]


# One listener per process: Java up-calls from every session land here,
# and run IDs never repeat, so counts from different sessions or tests
# cannot mix.
LISTENER = QueryListener()
