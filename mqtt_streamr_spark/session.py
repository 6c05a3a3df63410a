"""SparkSession factory tuned for this engine.

The reference has no session concept (one Node process, `bin/mqtt-streamr.js`
whole file); this is the Spark-native analog of its startup path
(`bin/mqtt-streamr.js:12-68` yargs config -> running pipeline).

Scale posture: the defaults below are chosen so the same code runs on
local[32] for tests and on a 1000-executor cluster unchanged —
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
shuffle partitions sized by cluster not hard-coded per query, and
broadcast joins enabled for dimension tables.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _cpus() -> int:
    """Read SPARK_GRAFT_CPUS at CALL time (not import) so master and
    shuffle partitions always agree."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "mqtt-streamr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    All settings are cluster-size-relative, never data-size-absolute:
    - AQE handles post-shuffle coalescing and skew splitting at any scale.
    - ``spark.sql.shuffle.partitions`` is an initial value only; AQE
      re-plans it per-stage from runtime statistics.
    - Arrow enabled for the Pandas-UDF paths (similarity, multimodal).
    """
    cpus = _cpus()
    # spark.driver.memory is INERT via SparkConf in client mode (the JVM
    # already exists) — pass it through the submit args instead, which only
    # works before the first JVM launch in this process
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    if "PYSPARK_SUBMIT_ARGS" not in os.environ:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory {mem} pyspark-shell"
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # compiled JSONata emissions nest lambda functions (sequence
        # walks, ** recursion, HOF chains); each nesting level costs
        # analyzer resolution iterations and the default 100 resolves
        # only ~12 levels — deep compositions (fuzzer-found: 3 nested
        # $append over a sorted path) need more headroom. Iterations
        # used = iterations needed, so this has no cost for normal plans.
        .config("spark.sql.analyzer.maxIterations", "300")
        .config("spark.sql.session.timeZone", "UTC")
        # JSON.parse (the reference's validity check, bin:149-155) accepts
        # a duplicate object key and keeps its last value; Spark's variant
        # parser rejects the whole payload (try_parse_json -> NULL) unless
        # duplicates are allowed, and then it also keeps the last value
        .config("spark.sql.variant.allowDuplicateKeys", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Streaming state store: RocksDB by default (r7). The default
    # HDFS-backed provider keeps EVERY key of every stateful operator
    # (stream-stream join, session windows, dedup-within-watermark, CDC)
    # in executor JVM heap — fine at sf0.1, an OOM at 100x. RocksDB
    # spills state to local disk with bounded memory, which is the only
    # honest configuration for unbounded-stream state. Changelog
    # checkpointing keeps commit cost proportional to the delta, not the
    # full store. Opt out with SPARK_GRAFT_STATE_STORE=hdfs (e.g. to
    # A/B the providers).
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "rocksdb") == "rocksdb":
        builder = (
            builder.config(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
            .config(
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled",
                "true",
            )
        )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
