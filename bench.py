"""Benchmark harness — one JSON line to stdout.

Runs the engine's headline workload at $SPARK_GRAFT_SF_DIR (default: the
sf0.1 test data) on local[$SPARK_GRAFT_CPUS] (default: every core):

* index_build  — full pipeline over `documents` as the pages corpus
                 (extract → tokenize → postings → dictionary →
                 compressed blocks, all persisted) — the north-rule
                 docs/sec metric.
* q_*          — BM25 single-term / boolean / phrase top-k, analytics
                 (zipf), dedup (minhash-LSH), ANN (brute cosine top-k).

Output: {"metric": "index_docs_per_sec", "value": N, "unit": "sec",
"queries": {name: seconds}, "sf": dir, ...}.

Scaling-efficiency evidence (north_rule N→4N) comes from
scripts/cluster_scaling_bench.py, not from this script.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    from pyspark.sql import functions as F

    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.query_eval import SearchEngine
    from search_engine_spark.session import build_session

    # tmpfs for shuffle + index: the microVM block layer injects
    # one-sided multi-10s stalls under parallel IO (see CLAUDE.md)
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    spark = build_session(cpus=cpus, shuffle_partitions=max(cpus, 8),
                          app_name="search_engine_bench",
                          local_dir=os.path.join(shm, "se_bench_local"))

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pages = docs.select(
        F.format_string("doc://%09d", F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )
    n_docs = pages.count()

    cfg = EngineConfig(index_partitions=max(cpus, 8))
    idx_dir = tempfile.mkdtemp(prefix="se_bench_idx_", dir=shm)
    timings: dict = {}
    try:
        # two builds: run 1 is cold (python-worker spin-up, JIT — the
        # r1-comparable number), run 2 is steady-state; report the min
        # as the throughput headline and BOTH raw walls for
        # transparency (one-sided microVM stalls; see bench() note)
        build_runs = []
        for i in range(2):
            d = idx_dir if i == 0 else tempfile.mkdtemp(
                prefix="se_bench_idx2_", dir=shm
            )
            t0 = time.time()
            build_index(spark, pages, d, cfg=cfg, resume=False)
            build_runs.append(round(time.time() - t0, 3))
            if i > 0:
                shutil.rmtree(d, ignore_errors=True)
        build_s = min(build_runs)
        timings["index_build"] = round(build_s, 3)

        eng = SearchEngine(spark, idx_dir)
        # warm the caches once so query timings measure the query path
        eng.docmeta.count()
        eng.blocks.count()

        # best-of-2: wall noise on a shared box is one-sided (stalls
        # only add time), so the min of two runs is the closer estimate
        def bench(name: str, fn) -> None:
            best = None
            for _ in range(2):
                t = time.time()
                fn()
                dt = time.time() - t
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)

        bench("q_term", lambda: eng.search("join", 10).collect())
        bench("q_and", lambda: eng.search("join && fast", 10).collect())
        bench("q_or", lambda: eng.search("slow || vector", 10).collect())
        bench("q_not", lambda: eng.search("join && !fast", 10).collect())
        # mixed AND/OR tree — exercises the general boolean-tree WAND
        # path (same shape as the gate's bool_complex query)
        bench(
            "q_bool_mixed",
            lambda: eng.search(
                "(join && fast) || (slow && !vector)", 10
            ).collect(),
        )
        # metadata-filtered search — the r3 weak spot: θ now comes from
        # a filtered phase 1, so this pays the pruned plan + one pushed
        # docmeta scan instead of a full multi-term block decode
        bench(
            "q_filter",
            lambda: eng.search(
                "join || vector", 10, meta_filter=F.col("lang") == "de"
            ).collect(),
        )
        bench("q_phrase", lambda: eng.search('"table scan"', 10).collect())
        bench(
            "q_mlt", lambda: eng.more_like_this(0, 10).collect()
        )

        from search_engine_spark.operators.analytics import (
            zipf_fit,
            zipf_rank_table,
        )

        freqs = eng.dictionary.select(
            "term", F.col("cf").cast("long").alias("freq")
        )
        bench("q_zipf", lambda: zipf_fit(
            zipf_rank_table(freqs, n_terms=eng.n_terms)
        ).collect())

        from search_engine_spark.operators.dedup import minhash_lsh_pairs

        bench(
            "q_dedup_minhash",
            lambda: minhash_lsh_pairs(docs, threshold=0.8).count(),
        )

        from search_engine_spark.operators.dedup import span_dedup

        bench(
            "q_dedup_span",
            lambda: span_dedup(docs, w=10).count(),
        )

        from search_engine_spark.operators.similarity import cosine_topk

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
        bench(
            "q_ann",
            lambda: cosine_topk(emb, qv, 10, exclude_id=0).collect(),
        )

        docs_per_sec = n_docs / build_s if build_s else 0.0
        print(
            json.dumps(
                {
                    "metric": "index_docs_per_sec",
                    "value": round(docs_per_sec, 3),
                    "unit": "sec",
                    "queries": timings,
                    "index_build_runs_sec": build_runs,
                    # run 1 is the cold build — the number comparable
                    # to round-1's single-cold-build headline (ADVICE
                    # r2); the min above is the steady-state throughput
                    "index_build_cold_sec": build_runs[0],
                    "sf": sf_dir,
                    "n_docs": n_docs,
                    "cpus": cpus,
                    "total_query_sec": round(
                        sum(v for k, v in timings.items() if k.startswith("q_")),
                        3,
                    ),
                }
            )
        )
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
