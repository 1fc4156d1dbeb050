"""SparkSession factory.

The reference configures its environment at ClickstreamProcessor.java:60-72
(event-time mode, local parallelism, checkpoint interval). Spark needs none
of that ceremony — event time is a column, parallelism is
``spark.sql.shuffle.partitions``, checkpointing is per-query — but the
session-level choices below matter at scale:

- AQE on: runtime coalescing + skew-join handling replace hand-tuned
  parallelism (the reference hard-codes parallelism 1, CP:68-69).
- UTC session timezone: event time is epoch-millis; all window math must be
  timezone-free so batch results hash-match the DuckDB oracle.
- Arrow enabled: every Python-side exchange (pandas UDFs, toPandas) is
  columnar.
- Local masters write streaming checkpoints through Spark's FileSystem
  checkpoint manager (``get_spark`` says why).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Disk-backed streaming state store (bundled rocksdbjni). The default
#: HDFSBackedStateStoreProvider keeps every stateful operator's state in
#: executor HEAP — fine for tests, but a 100 TB streaming job's session
#: state (millions of open sessions × session payload) must spill;
#: RocksDB keeps a bounded in-memory working set with the state on local
#: disk, checkpointed as versioned snapshots. This is the provider the
#: reference's production guidance maps to (Flink's RocksDBStateBackend,
#: SURVEY §4.1). Read per QUERY START from the session conf — settable at
#: runtime (state_store_provider below) or statically via
#: ``get_spark(extra_conf={"spark.sql.streaming.stateStore.providerClass":
#: ROCKSDB_STATE_STORE_PROVIDER})``.
ROCKSDB_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"

#: Streaming checkpoint writer for local masters (see ``get_spark``).
FILE_SYSTEM_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

_CHECKPOINT_FILE_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


@contextmanager
def state_store_provider(spark: SparkSession, provider: str):
    """Run streaming queries under a specific state store provider, then
    restore the previous session conf (queries STARTED inside keep the
    provider they started with — the conf is captured at query start)."""
    try:
        previous = spark.conf.get(_PROVIDER_CONF)
    except Exception:
        previous = None
    spark.conf.set(_PROVIDER_CONF, provider)
    try:
        yield spark
    finally:
        if previous is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, previous)


def get_spark(
    app_name: str = "flink-clickstream-processor-msk-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master``/``shuffle_partitions`` default from ``SPARK_GRAFT_CPUS`` so
    local test runs match the driver harness; on a real cluster leave
    ``master`` unset and size ``shuffle_partitions`` to ~2-3x total cores.

    A ``local`` master writes streaming checkpoints (offsets, commits,
    source logs, state deltas) through Spark's FileSystem checkpoint
    manager instead of the FileContext default. pyspark ships no
    ``libhadoop``, so a FileContext rename on the local disk runs Hadoop's
    generic sequence: ``getFileLinkStatus`` of source and destination
    (each forks ``readlink``), then delete-then-rename on overwrite. Every
    checkpoint file cost 4 ``readlink`` forks that way, ~78 process forks
    per catch-up micro-batch in all with the ``chmod`` ones. The
    FileSystem manager checks ``exists`` and then calls
    ``RawLocalFileSystem.rename``, which is ``rename(2)``: the same
    no-overwrite check, an atomic replace on overwrite, no ``readlink``
    fork, and the same checkpoint file set (``.crc`` files and checksum
    sidecars included). Other masters keep the FileContext default:
    HDFS's FileContext rename is an atomic no-overwrite, while the
    FileSystem manager silently keeps the old file when an overwrite
    rename fails. ``extra_conf`` overrides this like any other conf.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # local mode runs executors inside the driver JVM, whose default heap is
    # 1g regardless of machine size — 32 executor threads starve and
    # broadcast builds fail well below memory capacity. Must be set before
    # the JVM launches (no-op via conf on a running gateway).
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # legacy test-data tiers stored ts as TIMESTAMP(NANOS), which
        # Spark's parquet reader rejects without this conf; current tiers
        # are timestamp[us] (TIMESTAMP_NTZ) and ignore it. The source shim
        # (sources/clickevents.py) handles both shapes.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # static conf, default 100 compiled classes: a multi-query session
        # (the bench suite alone builds hundreds of distinct codegen units)
        # thrashes the cache and re-runs Janino compilation mid-suite —
        # measured as multi-second stalls landing on whatever query is
        # executing. Must be set before the JVM launches.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        builder = builder.config(
            _CHECKPOINT_FILE_MANAGER_CONF, FILE_SYSTEM_CHECKPOINT_FILE_MANAGER
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
