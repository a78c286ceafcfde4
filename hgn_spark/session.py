"""SparkSession factory.

The reference hand-builds a SparkConf from YAML and then fights Catalyst
with manual repartition(4)/sortWithinPartitions and disabled broadcast
joins (reference confs/quakers.yml:24-27, spark_manager/spark_manager.py:61-89).
We do the opposite: enable AQE and let the optimizer choose physical
strategy; the only knobs we pin are the ones that matter for
reproducibility (UTC session timezone) and local-mode throughput
(shuffle partitions ~ cores, Arrow for any pandas exchange).

At cluster scale the same factory applies — the settings below are
size-relative (AQE coalesces/splits partitions at runtime), not tuned to
the local test box.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime partition coalescing, skew-join splitting, dynamic
    # broadcast decisions. This replaces every manual repartition the
    # reference scattered through its pipeline.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamps vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for every pandas_udf / toPandas hop.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Iterative graph algorithms need cheap lineage truncation.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # Quiet non-interactive runs.
    "spark.ui.showConsoleProgress": "false",
    # Managed (bucketed) tables + Derby metastore live outside the repo.
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/hgn_spark_warehouse"
    ),
    # ReservedCodeCacheSize: every distinct query plan generates
    # whole-stage-codegen classes; a long-lived session running many
    # plans (this engine registers 50+) fills the JVM's default 240 MB
    # code cache, after which the JIT stops compiling and hot paths run
    # interpreted — measured here as 3-20x slowdowns appearing mid-suite
    # (decontaminate_ngram_overlap: 2.5 s steady-state vs 7-55 s once
    # the cache fills). 1 GiB + UseCodeCacheFlushing is the standard
    # long-session Spark tuning (Spark docs, sql-performance-tuning).
    "spark.driver.extraJavaOptions": (
        "-Dderby.system.home=/tmp/hgn_spark_derby "
        "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
    ),
    # Same tuning for real (non-local) executors, which JIT their own
    # codegen classes; harmless locally where no executor JVM exists.
    "spark.executor.extraJavaOptions": (
        "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
    ),
    # The Janino side of the same problem: Spark caches compiled
    # codegen classes by source, 100 entries by default, and recompiles
    # an evicted class the next time its plan runs. Distinct classes
    # counted as compilations under an unbounded cache (4-core machine,
    # one session): one cold HGN cascade job on a 2,000-vertex graph
    # 152-167, the graph/curation/similarity operator mix 433-481, one
    # pass of the 51 registered rows at sf0.01 1,530. At the default
    # the cache thrashes: a warm re-run of the HGN job recompiled
    # 137-162 classes and took 14.3-15.1 s; with room for every class
    # it recompiled 0-2 and took 9.9-10.9 s. 2,048 holds a full pass
    # of the registered rows with headroom.
    "spark.sql.codegen.cache.maxEntries": "2048",
}

if os.environ.get("SPARK_GRAFT_STATESTORE", "").lower() == "rocksdb":
    # The 100 TB streaming configuration (ARCHITECTURE §streaming):
    # off-heap RocksDB state instead of the heap-bound HDFS-backed
    # default. Opt-in via env because the two providers' checkpoint
    # state formats are incompatible — flipping it under an existing
    # checkpoint is a migration, not a conf tweak. Output parity across
    # both providers is pinned by
    # tests/test_streaming.py::test_state_store_provider_parity.
    _DEFAULTS["spark.sql.streaming.stateStore.providerClass"] = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )


def get_spark(
    app_name: str = "hgn_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller passes the cluster master / lets spark-submit set it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.default.parallelism", str(shuffle_partitions))
    # local mode = driver-only JVM; give it headroom if we create the JVM.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Connected components & the HGN loop checkpoint each iteration.
    if spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(
            os.environ.get("SPARK_GRAFT_CKPT", "/tmp/hgn_spark_ckpt")
        )
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
