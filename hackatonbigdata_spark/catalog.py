"""Table catalog over a scale-factor directory of parquet files.

Replaces the reference's file-discovery heuristics
(/root/reference/src/utils/data_loader.py:105-185 picks tables by glob +
column probe + size) with an explicit registry: every table has a known name
and location, and reads are plain parquet scans so Catalyst gets
projection pruning and predicate pushdown for free
(/root/reference/src/data/loaders.py:43-118 did both by hand).

Table schemas are resolved once and kept (``read_parquet``): the first read
of a path infers the schema from its footer — a Spark job — and every later
read with the same file signature and schema confs pins it, so building a
query launches no Spark job.
"""

from __future__ import annotations

import os
import stat
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_PKG_SHIP_LOCK = threading.Lock()


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship the engine package to Python workers via ``addPyFile`` — the
    local-mode equivalent of ``spark-submit --py-files``.  Worker processes
    do not inherit the driver's ``sys.path`` edits, so any
    ``mapInPandas``/``applyInPandas`` closure that references a module-level
    name fails with ModuleNotFoundError unless the package is shipped.  On a
    real cluster the deploy does this once per job; here it is one zip of
    the source tree per session (idempotent, guarded).

    r15 hardening (exposed by the thread-pooled test sweeps): the zip is
    now (1) named by a CONTENT hash of the shipped sources — the old
    ``os.getpid()`` key collided across process lifetimes (Linux reuses
    pids), silently shipping a STALE zip from a dead process's run of a
    different source tree; (2) built to a temp name and ``os.replace``d
    atomically — a concurrent caller used to ``addPyFile`` a half-written
    zip, and Spark then failed every task with "exists and does not match
    contents" once the bytes settled; (3) serialized behind a process-wide
    lock with a double-checked session flag."""
    sc = spark.sparkContext
    if getattr(sc, "_hbd_pkg_shipped", False):
        return
    with _PKG_SHIP_LOCK:
        if getattr(sc, "_hbd_pkg_shipped", False):
            return
        import hashlib  # noqa: PLC0415 — driver-side only
        import tempfile  # noqa: PLC0415
        import zipfile  # noqa: PLC0415

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        root = os.path.dirname(pkg_dir)
        srcs: list[str] = []
        for dirpath, dirs, files in os.walk(pkg_dir):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith(".py"):
                    srcs.append(os.path.join(dirpath, fn))
        h = hashlib.md5()
        for full in srcs:
            h.update(os.path.relpath(full, root).encode())
            with open(full, "rb") as f:
                h.update(f.read())
        zpath = os.path.join(
            tempfile.gettempdir(),
            f"hackatonbigdata_spark_pkg_{h.hexdigest()[:12]}.zip",
        )
        if not os.path.exists(zpath):
            tmp = f"{zpath}.tmp{os.getpid()}"
            with zipfile.ZipFile(tmp, "w") as z:
                for full in srcs:
                    z.write(full, os.path.relpath(full, root))
            os.replace(tmp, zpath)
        sc.addPyFile(zpath)
        sc._hbd_pkg_shipped = True


# Confs that change the schema Spark infers from a parquet footer: the
# arguments of Spark 4.1's ParquetToSparkSchemaConverter, plus which footers
# get read (mergeSchema, summary files).  ``nanosAsLong`` is flipped at run
# time by ``configure_events_read``.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
)

# One entry per path, replaced when its key changes, so both caches stay
# bounded by the number of distinct paths read.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}
_EVENTS_TS_NANOS: dict[str, tuple[tuple, bool]] = {}
_CACHE_LOCK = threading.Lock()


def _file_signature(path: str) -> tuple | None:
    """``(name, size, st_mtime_ns)`` of the file, or of every file under the
    directory; None when the path cannot be stat'ed as a local
    filesystem path (missing, a glob, or a URI such as ``hdfs://``)."""
    if "://" in path:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_size, st.st_mtime_ns),)
    sig = []
    for dirpath, dirs, files in os.walk(path):
        dirs.sort()
        for fn in sorted(files):
            full = os.path.join(dirpath, fn)
            try:
                fst = os.stat(full)
            except OSError:  # removed while walking: the next read re-keys
                continue
            sig.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sig)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` whose schema is inferred once per path,
    file signature and schema confs, then pinned.

    Spark 4.1 launches a job (``mergeSchemasInParallel``) on every inferring
    read just to re-read an unchanged footer; a read with the schema given
    launches none.  A path without a signature falls back to the plain read,
    so a missing path still raises Spark's own AnalysisException."""
    sig = _file_signature(path)
    if sig is None:
        return spark.read.parquet(path)
    key = (sig, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    with _CACHE_LOCK:
        hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    with _CACHE_LOCK:
        _SCHEMAS[path] = (key, df.schema)
    return df


def events_ts_is_nanos(path: str) -> bool:
    """True when ``events.ts`` is parquet TIMESTAMP(NANOS) — Spark's reader
    rejects that type unless ``nanosAsLong`` makes it a raw int64; False for
    a normal us/ms timestamp column, which reads natively.  Checked from the
    parquet footer (driver-side, milliseconds) instead of being hard-coded,
    because the two generations of test data disagree on the physical type.
    Cached under the same file signature as ``read_parquet``; a path that
    cannot be stat'ed reads as False, so Spark reports the bad path.
    """
    sig = _file_signature(path)
    if sig is None:
        return False
    with _CACHE_LOCK:
        hit = _EVENTS_TS_NANOS.get(path)
    if hit is not None and hit[0] == sig:
        return hit[1]
    import pyarrow.parquet as pq  # noqa: PLC0415 — driver-side only

    probe = path
    if os.path.isdir(path):
        parts = [os.path.join(path, rel) for rel, _, _ in sig if rel.endswith(".parquet")]
        if not parts:
            raise FileNotFoundError(
                f"no .parquet part files found under events path {path!r}"
            )
        probe = parts[0]
    nanos = str(pq.read_schema(probe).field("ts").type).startswith("timestamp[ns")
    with _CACHE_LOCK:
        _EVENTS_TS_NANOS[path] = (sig, nanos)
    return nanos


def configure_events_read(spark: SparkSession, path: str) -> bool:
    """Set ``nanosAsLong`` only when the events footer actually carries
    TIMESTAMP(NANOS); returns whether the nanos path is active."""
    nanos = events_ts_is_nanos(path)
    if nanos and spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return nanos


def events_path(sf_dir: str) -> str:
    return f"{sf_dir.rstrip('/')}/events.parquet"


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dtype-aware events read: footer decides the ``ts`` normalization so
    the engine survives the driver regenerating the data with a different
    physical timestamp type.  Either way the column lands as
    ``timestamp_ntz`` truncated to microseconds — identical to what DuckDB
    sees — so event-time semantics match the oracle."""
    path = events_path(sf_dir)
    if configure_events_read(spark, path):
        # TIMESTAMP(NANOS): readable only as int64; truncate ns -> us.
        return read_parquet(spark, path).withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")
        )
    # us/ms timestamp: native read; normalize to ntz for oracle parity.
    return read_parquet(spark, path).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )


class Catalog:
    """Lazy table accessor: ``Catalog(spark, sf_dir).lineitem`` -> DataFrame."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")
        ensure_package_on_executors(spark)

    def table(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}; known: {TABLES}")
        if name == "events":
            return read_events(self.spark, self.sf_dir)
        return read_parquet(self.spark, f"{self.sf_dir}/{name}.parquet")

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Register every table as a temp view for spark.sql queries."""
        for name in TABLES:
            self.table(name).createOrReplaceTempView(name)
