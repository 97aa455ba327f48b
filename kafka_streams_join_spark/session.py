"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor deployment would set per
executor: AQE on (runtime re-plan, skew-join splitting, partition coalescing),
shuffle partitions sized to cores (not the 200 default), Arrow enabled for the
Pandas-UDF slow path, UTC session timezone so results hash identically to the
DuckDB oracle. Stateful streaming keeps its state in RocksDB, and each
stream-stream join keeps its four state stores in one RocksDB instance per
partition (join state format v3); both are fixed, not options.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .streaming.listener import LISTENER

# Stateful streaming settings, pinned together. Join state format v3 keeps
# a stream-stream join's four state stores (keyToNumValues and
# keyWithIndexToValue for each side) as column families of ONE RocksDB
# instance per partition, where v2 opens four; Spark refuses v3 with any
# other provider. On the live_timeout benchmark (4 vCPU, local[4], two join
# queries at once) v3 cut the summed state-store commit per batch from 2.0 s
# to 0.6 s, and clicked p50 latency from 2.7 s to 1.7 s (medians of 11
# runs). Spark records both settings in each checkpoint's offset metadata,
# so a query resumed from an existing checkpoint keeps the provider and join
# state format it started with (v2, or v1 for checkpoints that predate the
# key); only new checkpoints pick these up.
STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
JOIN_STATE_FORMAT_VERSION = "3"


def _kafka_connector_coordinate() -> str:
    """Maven coordinate of the spark-sql-kafka connector matching the
    installed pyspark. Spark 4.x builds against Scala 2.13, Spark 3.x
    against 2.12; pre-release/dev versions ("4.2.0.dev1") have no
    published artifact, so fail with an actionable message instead of a
    cryptic resolver error at session start."""
    import pyspark

    version = pyspark.__version__
    parts = version.split(".")
    if not (len(parts) == 3 and all(p.isdigit() for p in parts)):
        raise RuntimeError(
            f"SPARK_GRAFT_KAFKA=1 needs a released pyspark (x.y.z) to pick "
            f"a published spark-sql-kafka artifact; got {version!r}. Set "
            f"spark.jars.packages explicitly via extra_conf instead."
        )
    scala = "2.13" if int(parts[0]) >= 4 else "2.12"
    return f"org.apache.spark:spark-sql-kafka-0-10_{scala}:{version}"


def get_spark(
    app_name: str = "kafka_streams_join_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a real cluster, ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``, and shuffle partitions default to the
    same core count. ``SPARK_GRAFT_CPUS`` defaults to the cores this process
    may run on; ``extra_conf`` overrides any setting. Every session carries
    the package's ``streaming.listener.LISTENER``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Python workers unpickle the streaming monitors' applyInPandasWithState
    # functions (streaming/anomaly.py, control_rules.py, countmin.py, ...)
    # by module reference, so they must be able to import this package.
    # Locally that means the repo root on PYTHONPATH before the JVM forks
    # workers; on a cluster the same thing is done by shipping a wheel via
    # --py-files.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
    )
    # Live-broker opt-in (tests/test_kafka_smoke.py, docker-compose.kafka
    # .yml): pull the matching spark-sql-kafka connector from Maven so the
    # smoke test is one command. Only when SPARK_GRAFT_KAFKA is set — the
    # sandbox has no network and no broker, and an unconditional
    # jars.packages would break offline startup.
    if os.environ.get("SPARK_GRAFT_KAFKA"):
        builder = builder.config(
            "spark.jars.packages", _kafka_connector_coordinate()
        )
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
        .config("spark.sql.streaming.stateStore.providerClass", STATE_STORE_PROVIDER)
        .config("spark.sql.streaming.join.stateFormatVersion", JOIN_STATE_FORMAT_VERSION)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LISTENER.install(spark)
    return spark
