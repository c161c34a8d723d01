"""SparkSession factory tuned for both local testing and cluster scale.

Scale rationale (100 TB / 1000 executors):
- AQE on: runtime coalescing of post-shuffle partitions and skew-join
  splitting replace hand-tuned shuffle.partitions at scale.
- UTC session timezone: deterministic timestamp semantics (and parity
  with the DuckDB oracle, which is UTC-naive).
- Arrow enabled: the few Pandas-UDF operators (minhash, simhash,
  multimodal decode) move batches, not rows.
- autoBroadcastJoinThreshold 64 MB: dimension tables (region, nation,
  supplier at TPC-H proportions) broadcast instead of shuffling facts.
- Python workers: ``DAEMON_MODULE`` (``worker_daemon``) is the worker
  daemon, so a reused worker stops re-reading pyspark.zip on every task;
  its docstring has the mechanism and the measured per-task cost.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

DAEMON_MODULE = "etl_sql_and_pyspark_developement__spark.worker_daemon"


RUNTIME_CONF = {
    # The runtime SQL confs both factories set; get_cluster_spark lays
    # CLUSTER_PRESET over them.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Without this, any plan that reads a cached DataFrame keeps the
    # full shuffle.partitions fan-out (AQE refuses to change cached
    # output partitioning) — iterative ops (connected components)
    # pay 32 near-empty tasks per tiny join. Trading cache-reuse of
    # the exact partitioning for runtime coalescing is the right
    # default for this engine's cached frames (small candidate sets).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Python Data Source filter pushdown is an ENGINE DEFAULT, not
    # a per-lane mutation: a pushFilters-implementing reader (the
    # q113 source) refuses to plan while this is false, planning is
    # lazy (a per-lane set/restore would flip the conf back before
    # the caller's action plans), and enabling it changes nothing
    # for readers that don't implement pushFilters — defaulting it
    # removes any run-order dependence between lanes.
    "spark.sql.python.filterPushdown.enabled": "true",
    # events.parquet's ts has shipped as INT64 TIMESTAMP(NANOS),
    # which the reader rejects unless it reads the column as a long
    # (catalog.normalize_events_ts converts it); a session default,
    # so no reader flips it mid-session
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# The RUNTIME_CONF keys configure_existing sets on a handed-over
# session. Lanes that run inside a conf_scope (tests/test_plans.py)
# call it too, so it must not re-arm any other key.
HANDOVER_KEYS = (
    "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.python.filterPushdown.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)


def get_spark(
    app_name: str = "etl-sql-pyspark-engine",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard
    config: RUNTIME_CONF, one shuffle partition per core, and the
    launch-time settings below."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return (
        builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .getOrCreate()
    )


CLUSTER_PRESET = {
    # The settings that change when this engine moves from local[32]
    # to a 1000-executor cluster reading 100 TB. Everything in
    # RUNTIME_CONF (AQE, UTC, Arrow, broadcast threshold, 128 MB file
    # splits) carries over.
    #
    # shuffle partitions ≈ total shuffle bytes / 128 MB target;
    # AQE coalesces down, so err high. 100 TB input with ~10x
    # reduction before the big shuffles → ~100k initial partitions.
    "spark.sql.shuffle.partitions": "100000",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
    # skew: let AQE split anything over 256 MB / 5x median
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5",
    # executors: dynamic allocation against the cluster manager
    "spark.dynamicAllocation.enabled": "true",
    "spark.dynamicAllocation.shuffleTracking.enabled": "true",
    # stability at scale
    "spark.shuffle.service.enabled": "true",
    "spark.speculation": "true",
    # the package must be installed in the executors' Python (a
    # --py-files copy arrives after the daemon starts)
    "spark.python.daemon.module": DAEMON_MODULE,
}


def get_cluster_spark(app_name: str = "etl-sql-pyspark-engine") -> SparkSession:
    """Session factory for a real cluster (spark-submit provides the
    master): RUNTIME_CONF with CLUSTER_PRESET on top."""
    builder = SparkSession.builder.appName(app_name)
    for k, v in {**RUNTIME_CONF, **CLUSTER_PRESET}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the handed-over subset of our runtime config to a session we
    did not create (``__spark_entry__.entry`` receives one). Static
    confs, ``spark.python.daemon.module`` among them, keep the caller's
    values. Only HANDOVER_KEYS are set."""
    for k in HANDOVER_KEYS:
        spark.conf.set(k, RUNTIME_CONF[k])
    return spark


def materialize(df: DataFrame) -> DataFrame:
    """The engine's one barrier: run ``df``'s subtree once, eagerly, and
    return a frame that reads the materialized blocks, so every
    downstream consumer (self-join sides, size/verify passes, the next
    round of an iterative loop) shares one execution and one truncated
    lineage.

    localCheckpoint, not persist: Spark does not reuse the exchange
    across self-join sides (each side gets fresh expression ids), so
    some materialization is required for scale correctness — but
    persist() pays the InMemoryRelation COLUMNAR CACHE BUILD, measured
    2-3s for a 160k-row band frame at sf0.1 vs 0.5s to recompute;
    localCheckpoint writes plain shuffle-style blocks (measured: LSH
    pipeline 4.1s persist / 3.7s no-persist / 3.3s localCheckpoint at
    sf0.1, with the subtree still executed exactly once). In iterative
    loops the truncated plan also stops each round re-analyzing a
    lineage that grows by a join or two per iteration, and keeps AQE
    free to coalesce the fan-out a cached plan would pin (measured ~5x
    on the dedup_components loop).

    Caveat: localCheckpoint blocks live on the executors that wrote
    them and do not survive executor loss. On a cluster with dynamic
    allocation or preemptible executors, set a reliable
    ``spark.sparkContext.setCheckpointDir`` and make this
    ``df.checkpoint()`` — every barrier in the package goes through
    here, so that is a one-line change.

    persist/cache stays correct only where the frame is released
    explicitly (``unpersist`` in a ``finally``, or ``cache_handles``
    that a micro-batch loop unpersists after its sink write), or where
    the cache itself is the point: MEMORY_AND_DISK partitions that
    recompute from lineage when an executor is lost, InMemoryRelation
    batch pruning, or an index that lives as long as a stream.
    """
    return df.localCheckpoint()


@contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` for the body of a ``with`` and put every key back
    on exit, also when the body raises: a key that was set reads its
    old value again, and a key that was unset is unset again (never
    ``set(None)`` — some keys, like the adaptive broadcast threshold,
    have no default and fall back to another key while unset).

    Planning is lazy: the action that needs the confs must run inside
    the ``with``. A frame returned out of the scope plans under the
    restored values."""
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def enable_runtime_bloom_filters(
    spark: SparkSession,
    creation_side_threshold: str = "10GB",
    application_side_threshold: str = "10GB",
) -> SparkSession:
    """Arm Catalyst's runtime bloom-filter join pruning: for a
    shuffle join with a selective build side, the optimizer inserts a
    bloom_filter_agg subquery on the build keys and a might_contain
    filter on the probe side — probe rows that cannot match are
    dropped AT THE SCAN, before paying the shuffle. At 100 TB this is
    the difference between shuffling the whole fact table and
    shuffling the ~1% that survives a selective dimension filter —
    semijoin pushdown without bucketing or manual broadcast.

    Thresholds govern when the filter is worth building (build-side
    size) and worth applying (probe-side scan size); the defaults
    here arm it for warehouse-scale joins. Injection is asserted in
    tests/test_plans.py (might_contain on the probe scan).
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        creation_side_threshold,
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        application_side_threshold,
    )
    return spark


def enable_rocksdb_state_store(
    spark: SparkSession, changelog_checkpointing: bool = True
) -> SparkSession:
    """Opt the session's streaming queries into the RocksDB state
    store provider (ships with Spark — rocksdbjni is bundled).

    The default HDFS-backed provider keeps every key of every
    stateful operator (st03/st04/st07/st11/st19/st21's dedup sets,
    running aggregates, session windows) in EXECUTOR HEAP — at
    100 TB-corpus key cardinalities that is the first thing to OOM.
    RocksDB spills state to local SSD with an in-heap cache, so
    state size is bounded by disk, not heap; changelog checkpointing
    additionally uploads per-batch DELTAS instead of full snapshots,
    which keeps checkpoint commit time flat as state grows (the
    bounded-state claims in streaming/ are documented against this
    provider at scale). Takes effect for queries STARTED after the
    call; restart running queries to migrate them.
    """
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    if changelog_checkpointing:
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    return spark
