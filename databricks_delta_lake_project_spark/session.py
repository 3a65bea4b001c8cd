"""SparkSession factory.

Mirrors the cluster/session configuration surface of the reference
(``config/cluster_config.json:29-45`` — AQE, coalescePartitions,
broadcast threshold; ``src/utils/performance_optimization.py:374-407``)
on open-source Spark running locally. Designed so the same settings
scale to a real multi-executor cluster: AQE handles skew + partition
coalescing at runtime, the broadcast threshold keeps dimension joins
shuffle-free, and shuffle partitions default to the local core count
(on a cluster you'd size this to 2-3x total cores or let AQE coalesce).

Every engine scan hands Spark the leaf data files its table log names,
never a directory. Spark's file index still lists those paths when a
DataFrame is built, and above
``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths (32 by
default) it lists them with a Spark job of one task per path — a job
meant for recursive directory discovery. The factory raises that
threshold to Int max, so a scan stats its files on the driver and a
table read, DML probe or change-feed read launches no listing job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Disk-backed streaming state (SURVEY §4): the default HDFS-backed
# provider keeps every key in executor heap — at 100 TB streaming state
# (dedup sets, session windows) that's an OOM, while RocksDB spills to
# local SSD with bounded memory. rocksdbjni ships inside pyspark's jars.
# Opt out with SPARK_GRAFT_STATE_STORE=hdfs (e.g. to reuse an old
# checkpoint written by the default provider).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

# Driver-side listing of the leaf files a scan is given (see the module
# docstring): the table log already names every file, so a distributed
# listing job only adds one task per file to each scan it builds.
LISTING_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"
LISTING_THRESHOLD = str(2**31 - 1)


def session_key(spark: SparkSession) -> str:
    """Stable, never-reused identity for a SparkSession, for keying
    per-session registries. ``id(spark._jsparkSession)`` is unsafe: a
    GC'd session's id can be handed to a new session, silently
    inheriting stale caches. The JVM session UUID is unique for the
    lifetime of the JVM; fall back to the py4j target id (also unique
    per JVM object) when running against an exotic session object.
    """
    j = spark._jsparkSession
    try:
        return str(j.sessionUUID())
    except Exception:  # noqa: BLE001 — connect/mocked sessions
        return getattr(j, "_target_id", None) or f"id:{id(j)}"


def get_spark(
    app_name: str = "databricks_delta_lake_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard conf.

    Session-level settings are applied even when an active session
    already exists, so tests and the driver harness see consistent
    behavior (UTC timestamps, AQE, Arrow).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Runtime re-planning: partition coalescing, skew-join splitting,
        # SMJ->BHJ conversion (reference: performance_optimization.py:398-407).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 10MB auto-broadcast threshold (reference: performance_optimization.py:374-391).
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # Deterministic cross-engine timestamps for the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for the pandas-UDF path (similarity / multimodal operators).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Testdata `events.ts` is TIMESTAMP(NANOS) parquet; Spark reads it
        # as long and the scan layer converts to microsecond timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(LISTING_CONF, LISTING_THRESHOLD)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "rocksdb").lower() != "hdfs":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
        # Changelog checkpointing: each state-store commit uploads only
        # the delta since the last commit instead of a full RocksDB
        # snapshot (snapshots still happen, asynchronously in the
        # background). The production setting for large streaming state;
        # measured 9.8->5.1 s on the session-window query (A/B in one
        # warm session, guide §1). Safe to flip per-query: the format is
        # recorded per checkpoint, and old checkpoints replay fine.
        builder = builder.config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Enforce the confs that matter for correctness/parity even on a
    # pre-existing session handed to us by the driver.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # a runtime SQL conf read whenever a scan's file index is built
    spark.conf.set(LISTING_CONF, LISTING_THRESHOLD)
    # providerClass is a runtime SQL conf read at stream start, so it
    # applies even when getOrCreate() returned a pre-existing session.
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "rocksdb").lower() != "hdfs":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    return spark
