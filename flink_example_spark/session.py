"""SparkSession construction and tuning.

The reference creates two environments (StreamExecutionEnvironment +
StreamTableEnvironment, App.java:19-20); Spark has one unified session.

Scale posture: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), shuffle partitions sized for the local harness but overridable
for cluster runs, timezone pinned UTC so TIMESTAMP columns behave like the
reference's timezone-less TIMESTAMP(3) (App.java:117).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Runtime-settable confs applied to *any* session (including the driver's).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # Harness parquet stores TIMESTAMP(NANOS); Spark lacks a ns timestamp
    # type, so read as long and convert in tables.load_tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # local[32] harness default; a real cluster job would size this to
    # ~2-3x total cores and let AQE coalesce.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
}


_TUNED: set = set()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (a caller's or ours),
    once per application, so a conf scoped around a call (such as
    ``shuffle_partitions``) holds inside it."""
    app = spark.sparkContext.applicationId
    if app in _TUNED:
        return spark
    _TUNED.add(app)
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep going
    return spark


def get_spark(app_name: str = "flink-example-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # A many-query suite generates thousands of codegen classes; the
        # JDK's default 240 MB reserved code cache runs its sweeper hot
        # and (on the full 266-row suite) saturates outright, leaving
        # later queries interpreted. 512 MB keeps JIT output resident —
        # measured r15: a 10-heavy-row subset runs a stable ~56 s vs
        # 62-114 s (drifting) at the default, alternating A/B. The same
        # sizing applies to any long-lived driver/executor JVM running
        # wide codegen workloads (guide §9 posture), not a local[32]
        # constant; override via SPARK_GRAFT_DRIVER_JAVA_OPTS.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=512m"
            ),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())


@contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str):
    """``key`` set to ``value`` inside; the session's value (or its absence)
    is restored on exit."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def rocksdb_state_store(spark: SparkSession):
    """Start the streaming queries inside on the bundled RocksDB state
    store, which ``transformWithState`` requires; other stateful queries
    keep the session's provider. A query restarted from a checkpoint reads
    its provider from the checkpoint."""
    return _scoped_conf(
        spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )


def shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily lower spark.sql.shuffle.partitions — bounded streaming
    replays pay per-partition state-store overhead EVERY micro-batch, so a
    small keyspace at 32 partitions wastes ~2x wall-clock vs 8 (measured:
    stream-stream interval join 34.7s → 22.6s at sf0.01). Restores the
    session value on exit; safe because each bounded replay starts a fresh
    query (no checkpoint partition-count compatibility concerns)."""
    return _scoped_conf(spark, "spark.sql.shuffle.partitions", str(n))
