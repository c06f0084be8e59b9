"""SparkSession factory with engine defaults.

Scale posture (SURVEY.md §4.2): AQE on (coalesce + skew-join splitting),
Arrow on for every pandas-UDF boundary, shuffle partitions sized for the
sandbox (``local[32]``) but overridable — on a real 1000-executor cluster
these come from ``spark-submit --conf``; nothing here assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONFS: dict[str, str] = {
    # Adaptive execution: runtime partition coalescing, skew-join split,
    # dynamic broadcast demotion — the first line of defense at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for every pandas UDF / applyInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Parquet scans: keep row groups aligned with partition targets.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Partition discovery: below this many paths the driver lists
    # directories itself instead of launching a distributed listing job.
    # A (day, bucket)-partitioned store has ~10^3 dirs; on a POSIX fs a
    # sequential scandir takes ~10ms where the listing JOB's fixed cost
    # is ~3s PER READ (measured: 3.2s -> 0.25s read-init), and the
    # pipeline opens its stores several times per run.  On a real
    # deployment the table format's manifests (Iceberg) replace listing
    # entirely; object-store paths without manifests should keep the
    # distributed listing (lower threshold) because remote LIST calls
    # are the bottleneck there, not job launch.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "8192",
    # zstd: ~3x smaller text-heavy writes; trades non-scaling disk IO for
    # CPU, which parallelizes.  Level 1 (default 3): the store write is
    # compression-CPU-bound — measured 23% faster at identical size on
    # transcript data (real-world text may grow a few %).
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.hadoop.parquet.compression.codec.zstd.level": "1",
    # v2 committer: task-side file moves; v1's driver-side sequential
    # commit serializes on file count (day×bucket partitioned writes
    # produce hundreds of files and made 32 cores SLOWER than 8).
    # On real object stores the job would use an atomic table format
    # (Iceberg) instead.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # FAIR job scheduling: the pipeline overlaps independent jobs from
    # separate driver threads (store write ∥ 1m rollup — IO-bound write
    # tasks interleave with CPU-bound agg tasks); FIFO would hold the
    # second job's tasks until the first job's backlog drains.
    "spark.scheduler.mode": "FAIR",
    # Deterministic session timezone — the engine contract is UTC µs.
    "spark.sql.session.timeZone": "UTC",
    # Quiet the UI in the sandbox; harmless on a cluster.
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "tsforge_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on
    a cluster callers submit via ``spark-submit --py-files`` and never pass
    ``master`` here.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # one shuffle partition per core locally; clusters override.
        try:
            shuffle_partitions = max(int(master.split("[")[1].rstrip("]*") or 32), 8)
        except (IndexError, ValueError):
            shuffle_partitions = 32

    # Executor python workers must import this package for pandas-UDF
    # closures.  On a cluster that's ``spark-submit --py-files`` (north
    # rule); in local mode workers inherit PYTHONPATH from this process,
    # so arm it before the JVM starts.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{pypath}" if pypath else pkg_parent
        )

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.driver.memory", os.environ.get("TSF_DRIVER_MEM", "8g"))
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def warm_start(spark: SparkSession, tiny_parquet: str | None = None) -> float:
    """Absorb the session's FIRST-EXECUTION fixed costs before serving:
    the first job in a fresh JVM pays task-scheduler/codegen-framework/
    JIT initialization that later jobs never see again (measured on
    this substrate: the same sf0.1 rollup runs ~7.1s as the session's
    first job vs ~1.8s as its second — while a trivial
    ``range→groupBy→agg`` + one tiny parquet scan absorb the same ~6s).
    A resident query service runs this once at startup so USER-facing
    first-query latency is query cost, not session cost.  Returns the
    seconds spent (callers record it — the cost is moved, not hidden).
    """
    import time as _time

    from pyspark.sql import functions as F

    t0 = _time.time()
    spark.range(1000).groupBy((F.col("id") % 10).alias("g")).agg(
        F.count(F.lit(1)), F.sum("id"), F.min("id"), F.max("id")
    ).count()
    if tiny_parquet:
        # Attempt the read and tolerate a missing path rather than
        # pre-checking with os.path.exists: the pre-check is
        # driver-LOCAL-filesystem only, so on s3/hdfs paths it silently
        # skipped the parquet warm and the first real scan still paid
        # reader init (r7 verdict #6).  A missing path is the storage
        # layer's verdict; any other failure raises.
        from pyspark.errors import AnalysisException

        try:
            spark.read.parquet(tiny_parquet).count()
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
    return _time.time() - t0
