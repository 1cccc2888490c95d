"""SparkSession factory with scale-oriented defaults.

Samza's runtime knobs (container count, ``job.container.thread.pool.size``,
RunLoop concurrency — /root/reference samza-core/.../container/RunLoop.java:63-124)
map onto Spark's executor/partition model; this module centralises the Spark
configuration the rest of the engine assumes:

* UTC session timezone (deterministic event-time semantics, oracle-comparable)
* AQE on (runtime re-planning ≈ a strictly stronger IntermediateStreamManager,
  /root/reference samza-core/.../execution/IntermediateStreamManager.java:59-94)
* Arrow enabled for the Pandas-UDF slow path
* RocksDB state store provider for streaming state (Samza's RocksDB stores,
  /root/reference samza-kv-rocksdb/.../RocksDbKeyValueStore.scala)
* Python workers fork from :mod:`samza_spark.worker_daemon`
  (``spark.python.daemon.module``, always set): every task's
  ``importlib.invalidate_caches()`` otherwise re-reads pyspark.zip's
  directory once per cached zip importer (0.2-0.6 s a task on CPython
  3.11), a fixed cost Samza's long-lived containers never pay per message.
  The workers get this package's parent directory on their ``PYTHONPATH``,
  so a session started from any working directory can run them
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class SessionConfig:
    """Tunables for a samza_spark session.

    ``shuffle_partitions`` should track total cores for local/test runs and
    ~2-3x total cluster cores for large jobs; at 100 TB input you instead cap
    partition *size* via ``files_max_partition_bytes`` and let AQE coalesce.

    ``extra`` is applied last and overrides any engine default, such as
    the RocksDB ``spark.sql.streaming.stateStore.providerClass``. A
    ``spark.python.daemon.module`` set there replaces the engine's worker
    daemon, and its workers pay the per-task zip re-read again.
    """

    app_name: str = "samza_spark"
    master: str | None = None  # None -> respect spark-submit / existing session
    shuffle_partitions: int | None = None  # None -> cores-based default
    files_max_partition_bytes: str = "128m"
    broadcast_threshold: str = "64m"
    session_timezone: str = "UTC"
    extra: dict = field(default_factory=dict)


def _default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_session(cfg: SessionConfig | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    cfg = cfg or SessionConfig()
    cores = _default_parallelism()
    builder = SparkSession.builder.appName(cfg.app_name)
    if cfg.master:
        builder = builder.master(cfg.master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cores}]")

    shuffle = cfg.shuffle_partitions or cores
    conf = {
        "spark.sql.session.timeZone": cfg.session_timezone,
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": cfg.broadcast_threshold,
        "spark.sql.files.maxPartitionBytes": cfg.files_max_partition_bytes,
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # testdata parquet carries TIMESTAMP(NANOS); read as long + convert
        # (samza_spark.catalog.load_table re-types nanos -> timestamp)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.shuffle.sortBeforeRepartition": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        # a contended host can stretch a broadcast build past the 300s
        # default and fail an otherwise-correct query (observed when two
        # full suites shared one box); correctness gates should wait, not
        # error
        "spark.sql.broadcastTimeout": "1200",
        # every Python worker forks from the engine daemon, which spares it
        # re-reading pyspark.zip's directory on each task (worker_daemon.py)
        "spark.python.daemon.module": "samza_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        ),
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
    }
    conf.update(cfg.extra)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
