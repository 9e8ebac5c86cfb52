"""SparkSession factory tuned for both local testing and cluster scale.

Local tests run on ``local[N]`` (single JVM); the configs below are chosen so
the *same* logical plans scale to a 1000-executor cluster reading ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast) so the
  shuffle partition count self-tunes with data volume;
- explicit shuffle-partition default sized for the local test box, overridable
  via env for cluster runs. It applies to batch queries; a stateful stream
  query started through ``streaming.pipeline.Pipeline`` uses one state
  partition per source partition instead, and falls back to this setting
  only when the source's partition count is unknown;
- streaming state in RocksDB with changelog checkpointing: each state
  commit writes only the batch's updates and snapshots are taken by
  background maintenance, which takes a fixed upload off every
  micro-batch; Spark resumes a checkpoint written with the setting either
  on or off;
- Arrow enabled for the (rare) pandas-UDF escape hatches;
- parquet filter pushdown / column pruning left at defaults (on) — operators
  are written so Catalyst can use them (checked in tests/test_plans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # --- scale-minded query execution ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # local test default; a real cluster sets this to ~2-3x total cores or
    # relies on AQE's initialPartitionNum to coalesce down.
    "spark.sql.shuffle.partitions": "32",
    # --- Python interop ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # driver testdata carries INT64 TIMESTAMP(NANOS) parquet types, which
    # Spark rejects by default; read them as long and let the catalog
    # convert to proper timestamps (catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- session behavior ---
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # NOTE: spark.driver.memory cannot be set via builder configs — in
    # in-process PySpark the driver JVM heap is fixed at gateway launch.
    # get_spark() therefore injects it through PYSPARK_SUBMIT_ARGS *before*
    # the gateway starts (no-op if a JVM is already up). The default 1 GiB
    # heap cannot even build a broadcast near the 64 MB threshold below
    # (hash relations explode ~10x over their serialized size).
    # streaming state at 100 TB needs RocksDB, not the in-memory HDFS store
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # a state commit writes a changelog of the batch's updates; snapshots
    # move to background maintenance instead of every commit uploading one
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # If a deployment opts into reliable lineage cuts (sc.setCheckpointDir +
    # kasper_spark/lineage.py), out-of-scope checkpoints must be garbage-
    # collected like cached blocks are — Spark's default (false) would leak
    # one full materialized copy per iterative round onto the checkpoint
    # volume, forever. Read at SparkContext construction, so it has to live
    # here, not at the cut site. No-op when no checkpoint dir is set.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}


def get_spark(app_name: str = "kasper_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    Any ``overrides`` win over the tuned defaults.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Give the in-process driver JVM a real heap BEFORE the gateway exists.
    # Builder-level spark.driver.memory is ignored in this mode; the submit
    # args are honored. If a JVM/gateway is already running this is a no-op
    # (and harmless), so sessions keep getOrCreate() semantics.
    from pyspark import SparkContext

    if SparkContext._gateway is None and "PYSPARK_SUBMIT_ARGS" not in os.environ:
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} pyspark-shell"
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf.update({k: str(v) for k, v in overrides.items()})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
