"""SparkSession builder with the engine's standard configuration.

Scale posture: every knob here is the one you'd set on a real
multi-executor cluster — AQE on (runtime re-planning + skew-join
splitting), Arrow batching for the pandas-UDF boundary, explicit
shuffle-partition sizing.  ``local[N]`` is only the sandbox stand-in
for executors.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession


# The engine's fixed SQL settings, applied by :func:`get_spark` and by
# the spark-submit job (``job.py``) alike.
SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Documents are wide rows (MBs of base64); keep Arrow batches
    # small so a batch of giant documents fits executor memory.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "64",
    # Same wide-row concern on the scan side: the vectorized parquet
    # reader's default 4096-row columnar batch is multi-GB when one
    # document row is ~1.4 MB of span text — cap it.
    "spark.sql.parquet.columnarReaderBatchSize": "8",
    # And bound scan partitions to ~64 MB of wide rows per task.
    "spark.sql.files.maxPartitionBytes": str(64 * 1024 * 1024),
}


def find_iceberg_jar() -> str | None:
    """Locate an Iceberg Spark runtime jar, if one is present: an
    explicit ``$SPARK_GRAFT_ICEBERG_JAR``, else any
    ``iceberg-spark-runtime*.jar`` under the pyspark jars dir or
    ``$SPARK_GRAFT_JARS_DIR``.  Returns None when absent (this sandbox
    ships no Iceberg runtime; the engine then runs on parquet with an
    identical table surface — see dragnet_spark/io.py)."""
    explicit = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if explicit:
        if not os.path.exists(explicit):
            # An explicitly-configured jar that is missing is a config
            # error: silently returning None would disable the Iceberg
            # wiring and surface later as a misleading
            # "no runtime on the classpath" failure at the first
            # table: sink.
            raise FileNotFoundError(
                f"SPARK_GRAFT_ICEBERG_JAR={explicit!r} does not exist")
        return explicit
    import pyspark
    dirs = [os.path.join(os.path.dirname(pyspark.__file__), "jars")]
    extra = os.environ.get("SPARK_GRAFT_JARS_DIR")
    if extra:
        dirs.append(extra)
    for d in dirs:
        hits = sorted(glob.glob(os.path.join(d, "iceberg-spark-runtime*.jar")))
        if hits:
            return hits[0]
    return None


def host_cores() -> int:
    """Default ``local[N]``: ``$SPARK_GRAFT_CPUS``, else the CPUs this
    process may run on (honours taskset/cgroup pinning)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))


def mem_total_kb() -> int:
    """The host's MemTotal from ``/proc/meminfo``, in KiB."""
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f
                    if line.startswith("MemTotal:"))


def driver_mem() -> str:
    """Default driver heap: ``$SPARK_GRAFT_DRIVER_MEM``, else half of
    MemTotal capped at 16g.  The heap is pinned (-Xms), so a fixed
    default larger than the host's RAM kills the JVM at startup."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    return f"{min(16 * 1024, mem_total_kb() // 2048)}m"


def get_spark(app_name: str = "dragnet-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = host_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # Large transient buffers (strip decode, series encode) otherwise
    # mmap/munmap on every document (glibc MMAP_THRESHOLD=128k), burning
    # kernel time in TLB shootdowns across workers.  Must be set before
    # the JVM forks the Python workers (they inherit the env).
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "536870912")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "536870912")
    mem = driver_mem()
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config(map=SQL_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", mem)
        # MB-sized span arrays are humongous objects for G1's default
        # region size; 32m regions keep them in normal allocation.
        # Xms=Xmx pins the committed heap: G1's periodic region
        # uncommit/recommit otherwise causes kernel page churn (measured
        # as 50-95% sys time at 32 threads).
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem} -XX:G1HeapRegionSize=32m")
        .config("spark.ui.enabled", "false")
    )
    # Iceberg catalog, auto-wired when a runtime jar is present (the
    # north rule's table format): a `local` Hadoop catalog so
    # `table:local.db.<name>` sources/sinks in io.py resolve.  With no
    # jar (this sandbox) nothing is configured and parquet is the
    # (identical-surface) fallback.
    jar = find_iceberg_jar()
    if jar:
        builder = (
            builder
            .config("spark.jars", jar)
            .config("spark.sql.extensions",
                    "org.apache.iceberg.spark.extensions."
                    "IcebergSparkSessionExtensions")
            .config("spark.sql.catalog.local",
                    "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.local.type", "hadoop")
            .config("spark.sql.catalog.local.warehouse",
                    os.environ.get("SPARK_GRAFT_ICEBERG_WAREHOUSE",
                                   "/tmp/dragnet_iceberg_warehouse")))
    return builder.getOrCreate()
