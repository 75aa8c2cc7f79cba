"""SparkSession factory and per-session tuning.

The reference runs a single Kafka Streams JVM with parallelism 1
(``config/KafkaConfig.kt:62-75``). This engine instead targets a real
cluster: AQE for runtime re-planning (skew joins, coalesced shuffle
partitions), Arrow for any Python boundary, RocksDB state store for
streaming aggregation state (parity with Kafka Streams' RocksDB,
``KafkaStreams_SpringBatch비교.md:53-58``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime (non-builder) confs every entry point applies, so the engine works
# even inside a SparkSession it did not create (e.g. the verify driver's).
_RUNTIME_CONFS = {
    # /root/testdata parquet stores TIMESTAMP(NANOS); Spark has no ns type,
    # so read as long and convert (sources/trades.py::_ns_to_ts).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
    # ones. Essential at 100 TB where static partition counts are wrong
    # for at least one stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-batched transfer for the few pandas_udf / mapInPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic UTC semantics for date_trunc/window regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # List partition directories on the driver: past this many paths Spark
    # lists them with a distributed job instead (default 32). On a local
    # filesystem (local[4]) resolving a read of 64 / 256 / 1000 / 2000
    # partition directories took 0.73 / 1.4 / 4.7 / 7.9 s with that job and
    # 0.08 / 0.08 / 0.25 / 0.49 s on the driver. Lower it where each
    # listing call is a slow object-store round trip.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "4096",
}


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be static in some deployments; the engine still
            # functions, callers just lose that optimization.
            pass
    try:
        # Streaming stateful operators key their state store count off
        # spark.sql.shuffle.partitions at query start (AQE never re-plans
        # them), so the Spark default of 200 wastes task overhead on small
        # local runs. Batch queries are unaffected — AQE coalesces.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
            spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "candle-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured. ``shuffle_partitions`` defaults
    to the local core count — on a real cluster leave it unset and let AQE
    coalesce from a higher initial value.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # RocksDB state store: bounded-memory streaming aggregation state
        # (JVM-heap HDFSBackedStateStore OOMs first at scale).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune_session(builder.getOrCreate())
