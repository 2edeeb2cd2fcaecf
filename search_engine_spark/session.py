"""SparkSession helpers + package self-shipping.

``ensure_shipped(spark)`` zips this package and ``addPyFile``s it so
executor Python workers can unpickle our mapInPandas closures no matter
where the driver script lives. On a real cluster this is what
``spark-submit --py-files search_engine_spark.zip`` does (north_rule);
calling it from the library makes every entry point self-contained —
local mode, notebooks, and cold spark-submit runs all work identically.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED_ATTR = "_search_engine_spark_shipped"


def _zip_home() -> str | None:
    """If this package is being imported FROM a zip (spark-submit
    --py-files / zipimport), return that zip's path, else None."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    if os.path.isdir(pkg_dir):
        return None
    return root if zipfile.is_zipfile(root) else None


def package_zip(out_path: str | None = None) -> str:
    """Zip the installed search_engine_spark package (for --py-files).

    When the package already runs from a zip, that zip IS the artifact
    — re-zipping would walk a zip path, find nothing, and truncate the
    file we are executing from."""
    zh = _zip_home()
    if zh is not None:
        return zh
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    if out_path is None:
        out_path = os.path.join(
            tempfile.gettempdir(), "search_engine_spark_pyfiles.zip"
        )
    n = 0
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
                    n += 1
    if n == 0:
        raise RuntimeError(f"package_zip found no .py files under {pkg_dir}")
    return out_path


def ensure_shipped(spark: SparkSession) -> None:
    """Idempotently ship this package to executors via addPyFile."""
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    sc.addPyFile(package_zip())
    setattr(sc, _SHIPPED_ATTR, True)


def build_session(
    cpus: int | str = "*",
    shuffle_partitions: int | None = None,
    app_name: str = "search_engine_spark",
    driver_memory: str | None = None,
    local_dir: str | None = None,
) -> SparkSession:
    """A local session fitted to this machine: ``shuffle_partitions``
    defaults to the core count (``cpus``, or every core for ``"*"``)
    and ``driver_memory`` to a quarter of RAM, capped at 8 GB."""
    if shuffle_partitions is None:
        shuffle_partitions = os.cpu_count() if cpus == "*" else int(cpus)
    if driver_memory is None:
        ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
        driver_memory = f"{max(1, min(8, int(ram_gb // 4)))}g"
    builder = SparkSession.builder.master(f"local[{cpus}]")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = (
        builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # Bytes-moved is the scarce resource at cluster scale (network,
        # shuffle disk) — and on this microVM, whose ~7 GB/s total
        # memory-bandwidth ceiling is shared by all cores (measured:
        # 4 concurrent single-core streams get 0.25x each). Compress
        # every at-rest / in-flight byte stream with zstd: persist
        # blocks (the docs stage persists the full extracted corpus),
        # shuffle blocks, and the stage parquet that is re-read by
        # every downstream stage. Text compresses 3-5x; the CPU cost
        # rides on cores that scale, the bytes ride on a bus that
        # doesn't.
        .config("spark.rdd.compress", "true")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    ensure_shipped(spark)
    return spark
