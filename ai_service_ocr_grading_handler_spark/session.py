"""SparkSession factory with scale-oriented defaults.

Tuned for the sandbox (single JVM, local[N]) but every setting is the one
you'd ship to a 1000-executor cluster: AQE on (runtime coalescing + skew-join
splitting), Arrow enabled for the Python kernel boundary, bounded Arrow batch
size so the extraction kernel's working set stays in executor memory at
100 TB scale (batch width governs peak per-task memory, not data size).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# runtime-settable SQL confs, applied both at build time (`get_spark`) and to
# an externally provided session (`tune_session`)
RUNTIME_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.session.timeZone": "UTC",
}


# Initial shuffle partitions: max(task slots, 32) — 32 on a 4-core box, one
# per slot from 32 cores up. At and above 32 slots each shuffle runs in a
# single wave (the old 2x-slots default measured ~40% slower on the
# shuffle-heaviest query, minhash, at local[32] — two waves of half-sized
# tasks, pure per-task overhead; an external session's default of 200 is
# worse still). Below that the floor holds: AQE coalescing only ever merges
# partitions, so the initial count is its upper bound, and 32 leaves a small
# session a finer split to coalesce from than one partition per core would.
def shuffle_partitions_for(slots: int) -> int:
    return max(slots, 32)


def get_spark(
    app_name: str = "ai-service-ocr-grading-handler-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    n = DEFAULT_CPUS if cpus is None else int(cpus)
    if n <= 0:
        raise ValueError(f"cpus must be >= 1, got {n}")
    if shuffle_partitions is None:
        shuffle_partitions = shuffle_partitions_for(n)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config(map=RUNTIME_CONFS)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session
    (the driver hands us one in `entry`/`queries`)."""
    confs = dict(RUNTIME_CONFS)
    try:
        par = int(spark.sparkContext.defaultParallelism)
    except Exception:  # Spark Connect: no sparkContext; keep session value
        par = 0
    if par:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions_for(par))
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable at runtime in some deployments — fine
    return spark
