"""SparkSession factory tuned for the engine.

Local mode mirrors the cluster posture: AQE on (runtime re-planning,
partition coalescing, skew-join splitting — the reference's "supernode"
answer, see SURVEY §4 / mvstore/SuperNodeMvMap.scala:18-247), broadcast
threshold sized so dimension tables never shuffle, UTC session time,
Arrow for the few pandas-UDF paths.

Cached plans may change their output partitioning
(`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`, false by
default in Spark 4.1). With it off, AQE leaves a persisted plan's final
shuffle uncoalesced, so a 600-row `blocks` pin is stored as 32
partitions (the shuffle partition count): every served query over it
runs 32 tasks, and a `limit(n).collect()` that finds its row late
scales up over them in several jobs. With it on, a small pin coalesces
to one partition and a served point query runs one one-task job. Large
pins stay parallel: with
`spark.sql.adaptive.coalescePartitions.parallelismFirst` (true, Spark's
default), AQE's coalesce target is the total size over the default
parallelism (floored at `minPartitionSize`, 1 MB), so a pin larger
than default-parallelism × 1 MB keeps at least that many partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "uexplorer-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or '*'. On a real cluster the
    master/resources come from spark-submit and these local[] settings are
    inert; the sql confs below are the ones that matter at 100 TB.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- runtime re-planning: the scale story -------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        # let AQE coalesce persisted plans too (see module docstring)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        # --- shuffle / scan sizing ---------------------------------------
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # dims (region/nation/supplier, ergo_trees, blocks meta) broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python interop ----------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # the default, stated explicitly: Arrow-kernel timings depend on
        # workers surviving across tasks (r12 turbulence finding)
        .config("spark.python.worker.reuse", "true")
        # --- determinism ---------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
