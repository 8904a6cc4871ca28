"""SparkSession factory with the configs this engine assumes.

Local-mode sandbox stands in for a multi-executor cluster; all
partitioning decisions are made as if executors were remote (no
driver-side collects in the hot path, range-partitioned global ranks,
AQE enabled for runtime skew handling).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_pyfiles_zip() -> str:
    """Package this library as a --py-files zip; returns its path.

    Used both by scripts/submit.sh (cluster spark-submit launch) and by
    :func:`ensure_workers_can_import` (shipping to an already-running
    session's workers)."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join("/tmp", "search_rs_spark_pkg.zip")
    # rebuild when any source file is newer than the zip (stale-zip guard)
    newest = max(
        (
            os.path.getmtime(os.path.join(root, f))
            for root, _d, files in os.walk(pkg_dir)
            for f in files
            if f.endswith(".py")
        ),
        default=0,
    )
    if os.path.exists(zip_path) and os.path.getmtime(zip_path) < newest:
        os.remove(zip_path)
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    return zip_path


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to executor Python workers of an already-running
    session (the spark-submit --py-files equivalent when we didn't create
    the session ourselves, e.g. under the driver harness)."""
    try:
        spark.sparkContext.addPyFile(build_pyfiles_zip())
    except Exception:
        pass  # already added


def _default_driver_memory() -> str:
    """Half of physical memory, capped at 16g: the JVM must be able to
    commit its whole heap (``-Xms`` equals it), or it exits at start."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(half_mb, 16 * 1024)}m"


def get_spark(
    cores: int | None = None,
    app: str = "search_rs_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()

    # Make this package importable in Spark's Python workers regardless of
    # the driver's cwd (spark-submit --py-files equivalent for local mode).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else "")
        )

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: the driver heap IS the executor memory — with 32
        # concurrent sort/aggregate tasks a small heap GC-thrashes, and a
        # small initial heap pays ~1 min of growth+GC on the first heavy job
        .config("spark.driver.memory", heap)
        .config("spark.driver.extraJavaOptions", "-Xms" + heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # push bounded IN-lists (e.g. WAND's literal block restriction,
        # <= MAX_LITERAL_BLOCKS ids) down to parquet so row-group stats
        # can skip pruned blocks; the default threshold (10) would stop
        # the pushdown exactly where it pays
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
