"""spark-submit entry point: build the full index over a pages table.

    spark-submit --py-files search_engine_spark.zip scripts/run_build.py \
        --input /path/pages_parquet --output /path/index --cpus 4

Prints one JSON line: {"n_docs": ..., "build_s": ..., "docs_per_sec": ...}.
Used by scripts/cluster_scaling_bench.py for the N→4N
scaling-efficiency measurement (north_rule); `--cpus` selects local[N]
when no master is given by spark-submit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--pyz", default=None,
                    help="package zip; addPyFile'd for the driver too "
                         "(Spark 4 local mode does not put --py-files on "
                         "the driver sys.path)")
    args = ap.parse_args()

    # Create the session with plain pyspark FIRST: spark-submit's
    # --py-files zip joins sys.path only once the SparkContext starts,
    # so package imports must come after.
    from pyspark.sql import SparkSession

    parts = args.partitions or max(args.cpus, 8)
    spark = (
        SparkSession.builder.appName(f"index_build_c{args.cpus}")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # mirror build_session: zstd for persist/shuffle/parquet —
        # bytes moved, not CPU, are the binding constraint both on a
        # real cluster (network/disk) and on this bandwidth-capped box
        .config("spark.rdd.compress", "true")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    if args.pyz:
        # driver-side import path: zipimport straight from the shipped
        # artifact (executors receive the same zip via --py-files)
        sys.path.insert(0, args.pyz)

    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.index_build import build_index
    pages = spark.read.parquet(args.input)
    n_docs = pages.count()  # warm the session + input cache out of the timing

    def _sys_cpu_s() -> float:
        """System-wide user+sys CPU seconds (box is dedicated, so the
        delta across the build is the job's CPU — JVM + py workers)."""
        with open("/proc/stat") as f:
            v = f.readline().split()[1:9]
        hz = os.sysconf("SC_CLK_TCK")
        u, n, s_ = int(v[0]), int(v[1]), int(v[2])
        return (u + n + s_) / hz

    cfg = EngineConfig(index_partitions=parts)
    c0 = _sys_cpu_s()
    t0 = time.time()
    store = build_index(spark, pages, args.output, cfg=cfg, resume=False)
    build_s = time.time() - t0
    cpu_s = _sys_cpu_s() - c0
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "cpus": args.cpus,
                "build_s": round(build_s, 3),
                "docs_per_sec": round(n_docs / build_s, 3),
                "cpu_s": round(cpu_s, 1),
                "stage_s": store.read_meta().get("timings", {}),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
