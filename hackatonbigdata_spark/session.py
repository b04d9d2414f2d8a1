"""SparkSession factory tuned for the engine.

Local-mode defaults are sized by env vars so the same entrypoint works in
tests (local[32]) and would carry to a real cluster (where most of these
configs are cluster-managed).  Scale notes:

- AQE on: runtime partition coalescing + skew-join splitting — the reference's
  data is heavily skewed (top 5.3% of products carry 79.9% of volume, see
  /root/reference/src/features/aggregation_features_engine.py:7-10), so
  adaptive skew handling is load-bearing at 100 TB, not a nicety.
- shuffle.partitions matches local cores here; on a 1000-executor cluster it
  should be ~2-3x total cores (or left to AQE initialPartitionNum).
- Arrow enabled: every applyInPandas/pandas_udf kernel ships columnar batches.
- Session timezone pinned UTC so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the host's
    physical memory, capped at 16g, so the JVM never claims all of a small
    host's RAM (in local mode the driver heap holds every executor too)."""
    try:
        host_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return "4g"
    return f"{min(16 * 1024, host_mb // 2)}m"


def get_spark(app_name: str = "hackatonbigdata_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # NOTE: no session-wide nanosAsLong pin — catalog.configure_events_read sets it
        # per-session only when the events footer actually says TIMESTAMP(NANOS)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        # no \r progress bars on stdout: they flood line-capture harnesses
        # (the r5 driver lost bench.py's JSON line to them) and serve nothing
        # in a headless run
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # scale-dependent overrides stay parameterised (guide §1.2 step 3 /
    # r14 verdict item 7): semicolon-separated k=v pairs, empty by default
    # so the driver's bench session is unchanged unless explicitly tuned
    for kv in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
