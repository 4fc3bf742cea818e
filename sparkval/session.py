"""SparkSession factory with the engine's required configuration.

Scale posture (designed for a 1000-executor cluster, tested on local[N]):
- AQE on: runtime coalescing of small shuffle partitions and skew-join
  splitting replace hand-tuned partition counts at 100 TB.
- Arrow on: every Python-side kernel is a vectorized pandas UDF /
  applyInPandas (the engine has NO per-row Python — north-rule
  requirement); Arrow batch transfer is the boundary.
- shuffle.partitions: a default for local runs; real deployments set it
  (or rely on AQE advisory sizes) per cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "sparkval",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the validation engine.

    ``parallelism`` sets local[N]; the scaling bench runs the identical
    job at local[8] and local[32] to evidence the N->4N throughput
    scaling criterion (BASELINE.json north_rule).

    Under spark-submit with an external master (tools/submit.sh:
    ``--master yarn|k8s://...``) the submitted master wins — local[N]
    is only the fallback when nothing chose one, so the same code path
    serves the sandbox and a 1000-executor cluster.
    """
    cpus = parallelism or DEFAULT_CPUS
    shuffle = shuffle_partitions or max(cpus, 8)
    builder = SparkSession.builder.appName(app_name)
    # spark-submit launches the python driver against an existing JVM
    # gateway (PYSPARK_GATEWAY_PORT set) that already carries --master;
    # only force local[N] when this process owns session creation
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # referential checks against dims too big to broadcast fall
        # back to shuffled anti-joins; the runtime bloom filter prunes
        # the probe side at the scan before that shuffle (explicit so
        # the 100 TB plan does not depend on a version default)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep Arrow batches ~1-10 MB: with 32 concurrent python
        # workers, fat (40 MB+) batches collapse the JVM->worker pipe
        # throughput ~10x (measured on the 2.8 GB corpus scan:
        # 19.8 s -> 2.1 s by shrinking batches); small batches also
        # pipeline better and bound per-worker memory for multi-KB rows
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARKVAL_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Small-input fast path for CPU-bound per-row work (the dedup
    signature kernels, multi-distinct Expand aggregates): a table
    stored as one or two parquet files arrives as 1-3 scan partitions
    and starves all but that many cores (measured: 3.0 s -> 0.4 s for
    5k minhash docs, 12.5 s -> 5.0 s for the 6-column lineitem profile,
    both at local[32]). Repartition ONLY when the input has fewer
    partitions than the cluster has slots — at 100 TB the table always
    has >> slots partitions, this never fires, and content never
    shuffles."""
    slots = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < slots:
        return df.repartition(slots)
    return df


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
