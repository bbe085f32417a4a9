"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` single-JVM; the configs below are chosen so the
same plans scale to a multi-executor cluster: AQE for runtime re-planning and
skew-join splitting, Arrow for any pandas-UDF exchange, and a shuffle
partition count sized for the test scale factors (override
``spark.sql.shuffle.partitions`` for real clusters).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``local[N]`` width when no master is given: the host's cores, so callers
#: that pass no master do not oversubscribe a small host
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))


def get_spark(app_name: str = "vector_db_at_home_spark",
              master: str | None = None,
              shuffle_partitions: int = 32,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults favor the 100 TB design brief: AQE enabled (coalesce small
    shuffle partitions, split skewed ones), broadcast threshold left at the
    Spark default so small dimension tables broadcast automatically, Arrow on
    for vectorized Python exchange.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # r12 (optimization guide §2.2/§6): file-split and AQE-coalesce
        # floors.  Both knobs only bite when the data is SMALL relative to
        # the cluster — at 100 TB bytes-per-core exceeds maxPartitionBytes
        # and every post-shuffle partition exceeds 1 MB, so both are inert
        # at scale; they are env-overridable for cluster profiles.
        #
        # openCostInBytes models "opening a file costs as much as scanning
        # N bytes".  The 4 MB default serializes CPU-heavy scans of small
        # inputs: an 11 MB decimal-aggregating lineitem scan planned 3
        # tasks on 32 cores (measured r12, q1 scan stage 1.4 s CPU in 3
        # tasks).  256 KB matches local-FS parquet-footer open cost and
        # lets spark.sql.files.minPartitionNum (= default parallelism)
        # split small CPU-bound scans across the cluster.
        .config("spark.sql.files.openCostInBytes",
                os.environ.get("SPARK_GRAFT_OPEN_COST", str(256 * 1024)))
        # AQE coalescing targets BYTES, which under-provisions partitions
        # whose downstream work fans out (measured r12: the minhash verify
        # join read a 687 KB candidate-pair shuffle coalesced to ONE
        # partition and ran its ~2 s join+aggregate tail serially).  With
        # parallelismFirst (default true) the floor is minPartitionSize,
        # not the advisory size; 256 KB keeps small-but-expensive shuffles
        # parallel without shattering trivial ones into per-task dispatch
        # overhead (64 KB measured +0.4-0.7 s of idle 20-30-task stages on
        # the pruned serving reads), and leaves large-scale coalescing
        # untouched.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                os.environ.get("SPARK_GRAFT_MIN_COALESCE", str(256 * 1024)))
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_GRAFT_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_GRAFT_MASTER"])
    else:
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
