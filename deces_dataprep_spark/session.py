"""SparkSession factory with scale-appropriate defaults.

Local mode is the test harness; the same config keys are what we would
pass to ``spark-submit`` on a multi-executor cluster (the package is
pure-Python and ships as ``--py-files deces_dataprep_spark.zip``).
"""

from __future__ import annotations

import os
import sys

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: share of MemAvailable the driver heap takes when SPARK_DRIVER_MEM is
#: unset. The heap is pre-touched, so it is committed at JVM start: a
#: quarter leaves room for a second pre-touched JVM started from inside
#: the first one's process tree (a subprocess build or CLI run takes a
#: quarter of what is left), plus the Python workers and the page cache.
_DEFAULT_HEAP_SHARE = 0.25
#: an explicit SPARK_DRIVER_MEM is clamped to this share of MemAvailable;
#: above it a pre-touched heap can fail to commit and the JVM aborts
#: before Spark starts.
_MAX_HEAP_SHARE = 0.5
_MIN_HEAP_MB = 512

_UNITS_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _mem_available_mb(meminfo: str = "/proc/meminfo") -> int:
    """``MemAvailable`` of the host in MiB."""
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"MemAvailable missing from {meminfo}")


def _driver_heap_mb(requested: str | None,
                   meminfo: str = "/proc/meminfo") -> int:
    """Driver heap in MiB: ``requested`` (a JVM size such as ``6g``),
    clamped to ``_MAX_HEAP_SHARE`` of MemAvailable, or
    ``_DEFAULT_HEAP_SHARE`` of it when nothing is requested — never below
    ``_MIN_HEAP_MB``."""
    avail = _mem_available_mb(meminfo)
    if requested:
        size = requested.strip().lower()
        unit = _UNITS_MB.get(size[-1])
        mb = int(float(size[:-1]) * unit) if unit else int(size) // (1 << 20)
        mb = min(mb, int(avail * _MAX_HEAP_SHARE))
    else:
        mb = int(avail * _DEFAULT_HEAP_SHARE)
    return max(_MIN_HEAP_MB, mb)


def get_spark(
    app_name: str = "deces_dataprep_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults follow the local sandbox (``local[$SPARK_GRAFT_CPUS]``,
    32 cores; driver heap from :func:`_driver_heap_mb`); on a real
    cluster, ``master`` and memory come from spark-submit and only the
    SQL confs below matter.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions if shuffle_partitions is not None else max(cpus, 8)
    heap = f"{_driver_heap_mb(os.environ.get('SPARK_DRIVER_MEM'))}m"
    if SparkContext._active_spark_context is None:  # this call starts the JVM
        print(f"deces_dataprep_spark: driver heap {heap} (pre-touched)",
              file=sys.stderr)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # shuffle partitions sized to cores in local mode; AQE coalesces
        # further at runtime and splits skewed partitions.
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas UDF / createDataFrame(pandas) path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", heap)
        # Pre-commit the whole heap at JVM start (-Xms == -Xmx +
        # AlwaysPreTouch): without it, the first big cache/shuffle pays
        # the heap's page-zeroing and growth-GC stalls INSIDE the timed
        # work — measured ~12 s on the first 400k-doc token-cache
        # materialization at 48 g (norms pass 14.8 s → 2.3 s with
        # pretouch, build rep0 34.3 s → 26.3 s). It tracks the sized
        # heap, so it can never commit more than the host has free (a
        # real cluster wants the same per executor via
        # spark.executor.extraJavaOptions, where executor memory is the
        # knob). Spark forbids -Xmx here; -Xms + pretouch is the
        # supported way to pin the committed size.
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap} -XX:+AlwaysPreTouch")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
