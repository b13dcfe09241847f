"""SparkSession factory tuned for the frontier engine.

Local-mode testing stands in for a multi-executor cluster; every knob
here is chosen so the *same* code runs unchanged under
``spark-submit --py-files`` on a real cluster:

- AQE on (runtime coalesce + skew-join handling for the extract/dedup
  shuffles, per BASELINE.json north_star).
- ``spark.sql.shuffle.partitions`` proportional to cores (a real
  deployment sets it ~2-3x total executor cores).
- Arrow enabled.  Python runs only inside vectorized pandas UDFs
  (canonicalize, parse, ...); constant frames are JVM literals
  (``operators.frontier.local_frame``), never a Python-list DataFrame,
  whose scan would start Python workers in every job that reads it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_mem_default() -> str:
    """Two thirds of the host's available memory, capped at 24g: a heap
    larger than the host gets the JVM OOM-killed mid-run."""
    cap_mb = 24 * 1024
    try:
        with open("/proc/meminfo") as f:
            info = dict(line.split(":", 1) for line in f)
        avail_mb = int(info["MemAvailable"].split()[0]) // 1024
    except (OSError, KeyError, ValueError):
        return f"{cap_mb}m"
    return f"{min(cap_mb, avail_mb * 2 // 3)}m"


def get_spark(
    app_name: str = "crawler_pyspider_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` -> ``local[*]``; otherwise ``local[cores]``.
    ``shuffle_partitions`` defaults to max(cores, 8) so small-scale test
    runs don't pay 200-partition scheduling overhead while cluster runs
    can override via SPARK_GRAFT_SHUFFLE_PARTITIONS.
    """
    ncores = cores or os.cpu_count() or 8
    master = f"local[{cores}]" if cores else "local[*]"
    nshuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", max(ncores, 8))
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # SPARK_GRAFT_LOCAL_DIR: shuffle/spill location.  The bench points
    # this at tmpfs — on one box the local disk (~500 MB/s here) is a
    # shared serial resource, whereas a real cluster adds local disks
    # with every node; tmpfs restores that per-core scaling behaviour.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
