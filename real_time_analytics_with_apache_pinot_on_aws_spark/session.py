"""SparkSession factory tuned for the engine.

Scale posture: these configs are written for a real cluster (100 TB, ~1000
executors) and degrade gracefully to local[N] test mode:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) so the
  same declarative plan survives a 1000x data-scale change.
- ``spark.sql.shuffle.partitions`` is only a pre-AQE hint; locally we pin it
  near core count so tiny fixtures don't fan out into 200 empty tasks.
- UTC session timezone: the DuckDB correctness oracle compares naive-UTC
  timestamps (SURVEY §5).
- Arrow enabled for the Pandas-UDF slow path (vectorized batches, never
  row-at-a-time pickling).
- Streaming checkpoints go through Hadoop ``FileSystem``, not the default
  ``FileContext`` manager, which forks a ``readlink`` for every offsets and
  commits rename on a local FS without the native library.  This manager
  checks ``exists`` and then renames, so two writers sharing one checkpoint
  could race; that cannot happen here: the engine refuses a second live
  consumer on one table (``TableAlreadyExistsError``) and Spark refuses two
  active runs of one query id.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "real_time_analytics_with_apache_pinot_on_aws_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the tuned SparkSession.

    On a real cluster, pass ``master=None`` with spark-submit providing the
    master and executor sizing; everything here is sizing-independent.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # events.ts is parquet TIMESTAMP(NANOS): read as long, catalog converts
        # to a micros TimestampType column (exact integer division, no doubles).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # 8g, not the former 16g (round 11).  The interpreted higher-order-
        # function paths (signature folds, array dots) allocate short-lived
        # boxed objects at GB/s, and G1 on a 16 GB heap periodically
        # degenerated into full-GC spirals on exactly that churn: the SAME
        # dim-768 LSH plan measured 9.5 s on one run and 173 s on the next
        # (stage metrics: up to 270 CPU-seconds of GC in one stage), and
        # G1 tuning (IHOP/reserve/region size) did NOT fix it — heap SIZE
        # did.  At 8 GB the identical plan holds 8.3-10.7 s across reps and
        # the GC-sensitive bench queries (minhash LSH) run at their
        # historical floor.  The local fixtures' working set is MBs; 8 GB
        # is pure headroom.  Cluster deployments size executors via
        # spark-submit and are unaffected; override with
        # SPARK_GRAFT_DRIVER_MEM.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
