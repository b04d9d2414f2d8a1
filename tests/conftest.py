from __future__ import annotations

import os
import threading
import uuid

import pytest

# Pre-warm pyspark.ml's import graph ONCE, single-threaded: the operators
# import MLlib lazily inside their bodies, and Python's per-module import
# locks deadlock / raise partial-initialization ImportErrors when several
# sweep threads trigger the circular pyspark.ml submodule imports
# concurrently (observed: _DeadlockError on pyspark.ml.functions,
# "partially initialized module 'pyspark.ml'" on classification).
import pyspark.ml.classification  # noqa: F401,E402
import pyspark.ml.clustering  # noqa: F401,E402
import pyspark.ml.feature  # noqa: F401,E402
import pyspark.ml.functions  # noqa: F401,E402
import pyspark.ml.regression  # noqa: F401,E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from hackatonbigdata_spark.session import get_spark

    # With a 16g driver heap the suite's JVM grew to RSS 15.7 GB on a
    # 16 GB host until the kernel's OOM killer ended it mid-sweep.  The
    # sf0.001 suite passes in a 4g heap (JVM RSS about 5.5 GB), below the
    # factory's half-of-host-RAM default; an explicit setting still wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    spark = get_spark("hackatonbigdata-tests")
    yield spark
    spark.stop()


def jobs_launched(spark, fn):
    """(number of Spark jobs ``fn()`` launched from this thread, its result)."""
    sc = spark.sparkContext
    group = f"jobs-launched-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


# --- shared query-DataFrame cache (r15 suite-runtime fix) -------------------
# Both exhaustive sweeps (oracle parity and the plan-window audit) construct
# every registered query's DataFrame; construction is where iterative
# operators run their eager localCheckpoint jobs, so building each DF twice
# doubled real Spark work.  DataFrames are immutable — one construction per
# (sf_dir, name) serves both sweeps.  sf0.001 checkpoints are tiny, so
# pinning them for the session is cheap.
_DF_CACHE: dict = {}
_DF_LOCK = threading.Lock()


def cached_query_df(spark, sf_dir: str, name: str, fn):
    key = (sf_dir, name)
    with _DF_LOCK:
        hit = _DF_CACHE.get(key)
    if hit is not None:
        return hit
    df = fn(spark, sf_dir)
    with _DF_LOCK:
        _DF_CACHE.setdefault(key, df)
    return df
