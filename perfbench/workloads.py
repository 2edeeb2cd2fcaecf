"""The benchmark workloads: closed loop, one client, seeded inputs.

Each workload is a pair: ``prepare(seed, cfg)`` builds the seeded
inputs and their oracles on the driver (it runs while the Spark
session starts), and the workload function takes a ``Run`` plus those
inputs and fills ``run.e2e`` with every end-to-end metric.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from typing import Callable, List

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from search_engine_spark.config import EngineConfig
from search_engine_spark.oracle.refmodel import RefIndex
from search_engine_spark.plans import query_parser as qp
from search_engine_spark.sources.pages_source import pages_spark_schema

import inputs
import oracles
import tracing

K = 10
SHINGLE_N, JACCARD = 3, 0.8

# search: one corpus under four url hosts (the meta_filter universes)
SEARCH_PAGES, SEARCH_CHUNK = 200, 50
# ingest: one batch of pages, drained as one epoch
INGEST_DOCS = 100
# full rotations of the query classes measured per run, after the
# cold first rotation
MEASURED_ROUNDS = 1
DEDUP_DOCS, DEDUP_PLANTED = 240, 24


def engine_config(cpus: int) -> EngineConfig:
    """Small blocks so both query routes occur at benchmark scale: a
    term with df above ``wand_min_blocks * block_size`` = 64 takes the
    block-max pruned routes, rarer terms the full-decode ones."""
    return EngineConfig(index_partitions=cpus, block_size=16,
                        wand_min_blocks=4)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if d != "_checkpoint"]
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in filenames if not f.startswith("."))
    return total


def _input_bytes(pdf: pd.DataFrame) -> int:
    text = sum(len(t.encode("utf-8")) for t in pdf["text"] if t is not None)
    return text + sum(len(h) for h in pdf["html"] if h is not None)


class Run:
    def __init__(self, spark, tracer, work: str, seed: int, seconds: float,
                 t_start: float, cfg: EngineConfig):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds, self.t_start = seed, seconds, t_start
        self.cfg = cfg
        self.attempted = self.failed = 0
        self.errors: List[str] = []
        self.e2e: dict = {}
        self.wall: dict = {}  # wall-clock twins of the CPU metrics
        self.info: dict = {"wall": self.wall}

    def clock(self) -> tuple:
        """(wall, CPU) now; CPU sums the driver, the JVM and the Python
        workers, so it excludes time the host gave to other guests. It
        leaves out the JVM's JIT compiler threads: they compile
        asynchronously, so their CPU lands on whichever operation is
        running when they do."""
        pids = tracing.process_tree(self.spark)
        return (time.perf_counter(),
                tracing.cpu_s(pids) - tracing.jit_cpu_s(pids[1]))

    def since(self, start: tuple) -> tuple:
        wall, cpu = self.clock()
        return wall - start[0], cpu - start[1]

    def mark(self, step: str) -> None:
        """Record when a step ended, in seconds since process start."""
        self.info.setdefault("steps_s", {})[step] = round(
            time.perf_counter() - self.t_start, 2)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def index_bytes(self, at_rest: int, docs: int, pdf: pd.DataFrame) -> None:
        """Bytes at rest per indexed doc. Per input byte is in the info
        line only: the synthetic pages' markup varies by seed while the
        index does not, so that ratio mostly tracks the seed."""
        self.e2e["index_bytes_per_doc"] = at_rest / docs
        self.info["index_bytes_per_input_byte"] = at_rest / _input_bytes(pdf)

    def op(self, what: str, fn: Callable):
        """Run one operation; an exception counts as a failed one."""
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - counted and reported
            self.check(False, f"{what}: {type(e).__name__}: {e}"[:300])
            return None

    def queries(self, one_query: Callable[[], tuple], n_classes: int,
                opened: tuple) -> None:
        """The query phase, from ``opened``, the clock when the index
        was opened.

        The first rotation of the ``n_classes`` query classes runs
        each class once, cold; the open and it are ``open_cpu_s``, and
        set-up ends with them. Then exactly ``MEASURED_ROUNDS``
        rotations are measured, a fixed count, so a faster engine runs
        the same queries. Queries after them, until ``seconds`` have
        passed, are checked but not measured. ``one_query`` returns
        (class, wall, CPU)."""
        for _ in range(n_classes):
            one_query()
        self.wall["open_s"], self.e2e["open_cpu_s"] = self.since(opened)
        self.e2e["setup_s"] = time.perf_counter() - self.t_start
        self.mark("setup")
        deadline = time.perf_counter() + self.seconds
        costs = [one_query() for _ in range(MEASURED_ROUNDS * n_classes)]
        self.mark("measured")
        self.e2e["query_p50_cpu_s"] = statistics.median(c for *_, c in costs)
        self.wall["query_p50_s"] = statistics.median(w for _, w, _ in costs)
        self.info["queries"] = {"class_wall_cpu_s": costs}
        extra = 0
        while time.perf_counter() < deadline:
            one_query()
            extra += 1
        self.info["queries"]["unmeasured_after"] = extra


def warm_workers(run: Run) -> None:
    """Pay the JVM's first job and the Python UDF workers' start here,
    not in the first measured operation."""
    n = run.spark.sparkContext.defaultParallelism
    run.mark("session")
    with run.tracer.span("bench.warmup"):
        run.spark.range(0, 4 * n, numPartitions=n).mapInPandas(
            lambda it: it, "id long").count()
    run.mark("warmup")


# -- dedup ----------------------------------------------------------------

def dedup_layers(run: Run) -> None:
    """n-gram pairs, the canonical pick over them, and MinHash-LSH pairs
    over a seeded corpus with planted near-duplicates, each checked.

    Only traced ``ingest`` runs call this, after every end-to-end metric
    is taken: it gives the dedup and pipeline layers their per-layer
    numbers. Its ~20 s of cold Spark jobs would not fit the measured
    runs' time budget."""
    from search_engine_spark.operators.dedup import (
        minhash_lsh_pairs, ngram_jaccard_pairs,
    )
    from search_engine_spark.operators.pipeline import canonicalize_by_quality

    rows = inputs.dedup_corpus(run.seed, DEDUP_DOCS, DEDUP_PLANTED)
    want = oracles.exact_pairs(rows, SHINGLE_N, JACCARD)
    tracer = run.tracer
    docs = run.spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]),
        "doc_id long, text string")

    def pairs_of(df):
        return {(r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()}

    def ngram():
        with tracer.span("dedup.ngram_pairs"):
            pairs = ngram_jaccard_pairs(docs, SHINGLE_N, JACCARD)
            got = pairs_of(pairs)
        run.check(oracles.pairs_ok(got, want), "ngram pairs")
        with tracer.span("pipeline.canonicalize"):
            canon = canonicalize_by_quality(docs, pairs).collect()
        run.check(oracles.canonical_ok(canon, [i for i, _ in rows], want),
                  "canonical pick")

    def minhash():
        with tracer.span("dedup.minhash_pairs"):
            got = pairs_of(minhash_lsh_pairs(docs, SHINGLE_N, JACCARD))
        run.check(bool(got) and oracles.pairs_ok(got, want, subset=True),
                  "minhash pairs")

    run.op("ngram dedup", ngram)
    run.op("minhash dedup", minhash)
    run.info["dedup"] = {"docs": len(rows), "pairs": len(want)}
    run.mark("dedup")


# -- search ---------------------------------------------------------------

def search_inputs(seed: int, cfg: EngineConfig) -> dict:
    pdf = inputs.pages(seed, SEARCH_PAGES, SEARCH_CHUNK, "c")
    oracle = RefIndex.from_rows(oracles.ref_rows(pdf), cfg)
    stream = inputs.QueryStream(oracle, seed,
                                cfg.wand_min_blocks * cfg.block_size,
                                hosts=("c", SEARCH_PAGES // SEARCH_CHUNK))
    return {"pdf": pdf, "oracle": oracle, "stream": stream}


def search(run: Run, data: dict) -> None:
    """Build an index over seeded pages (set-up), then a closed-loop
    query stream over it, every top-k checked against the oracle."""
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.query_eval import SearchEngine

    spark, tracer, cfg = run.spark, run.tracer, run.cfg
    pdf, oracle, stream = data["pdf"], data["oracle"], data["stream"]
    idx = os.path.join(run.work, "index")
    warm_workers(run)

    t = run.clock()
    with tracer.span("index_build.stats"):
        store = build_index(
            spark, spark.createDataFrame(pdf, schema=pages_spark_schema()),
            idx, cfg)
    wall, cpu = run.since(t)
    run.wall["index_docs_per_s"] = oracle.n_docs / wall
    run.e2e["index_docs_per_cpu_s"] = oracle.n_docs / cpu
    run.index_bytes(_dir_bytes(idx), oracle.n_docs, pdf)
    run.check(oracles.build_ok(store, oracle), "build vs oracle")
    run.mark("build")

    def one_query():
        cls, q, prefix = stream.next()
        flt = None if prefix is None else F.col("url").startswith(prefix)
        t = run.clock()
        with tracer.span("query_eval",
                         single_term=isinstance(qp.parse(q), qp.Term)):
            rows = run.op(q, lambda: engine.search(q, K, meta_filter=flt)
                          .collect())
        wall, cpu = run.since(t)
        if rows is not None:
            run.check(oracles.topk_ok(
                rows, oracles.expected_topk(oracle, q, K, prefix), oracle),
                f"{cls}: {q}")
        return cls, wall, cpu

    opened = run.clock()
    with tracer.span("query_eval.open"):
        engine = SearchEngine(spark, idx)  # reads each stage's schema
    run.queries(one_query, len(inputs.QUERY_CLASSES), opened)


# -- ingest ---------------------------------------------------------------

def ingest_inputs(seed: int, cfg: EngineConfig) -> dict:
    pdf = inputs.pages(seed, INGEST_DOCS, INGEST_DOCS, "b")
    oracle = RefIndex.from_rows(oracles.ref_rows(pdf), cfg)
    stream = inputs.QueryStream(oracle, seed,
                                cfg.wand_min_blocks * cfg.block_size)
    return {"pdf": pdf, "oracle": oracle, "stream": stream}


def _stream_urls(idx: str) -> dict:
    """doc_id -> url over the live segments, read with pyarrow (no
    Spark job)."""
    with open(os.path.join(idx, "stream_state.json")) as f:
        segs = json.load(f)["segments"]
    urls = {}
    for s in segs:
        t = pq.read_table(os.path.join(idx, "segments", s, "docmeta"),
                          columns=["doc_id", "url"])
        urls.update(zip(t["doc_id"].to_pylist(), t["url"].to_pylist()))
    return urls


def ingest(run: Run, data: dict) -> None:
    """A seeded page batch lands, ``IncrementalIndexer`` drains it as
    one epoch, then ``search_query`` calls run over the stream index.
    Fold thresholds of 0 make the epoch fold the seen-url sidecar and
    the live segments."""
    from search_engine_spark.streaming.incremental import IncrementalIndexer

    spark, tracer, cfg = run.spark, run.tracer, run.cfg
    pdf, oracle, stream = data["pdf"], data["oracle"], data["stream"]
    landing = os.path.join(run.work, "landing")
    os.makedirs(landing)
    # the pages schema pins warc_ts to a parquet timestamp; a file
    # written from the bare pandas frame holds INT64 nanoseconds, which
    # the stream rejects
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=to_arrow_schema(pages_spark_schema()),
                             preserve_index=False),
        os.path.join(landing, "batch-0.parquet"))
    idx = os.path.join(run.work, "stream_index")
    ixer = IncrementalIndexer(spark, idx, cfg, seen_compact_after=0,
                              segment_compact_after=0)
    ixer._process_batch = tracer.in_group(ixer._process_batch)
    warm_workers(run)

    def epoch():
        with tracer.span("incremental.epoch") as sp:
            q = ixer.start(landing)
            if sp is not None:
                tracer.stream_groups[str(q.runId)] = sp
            q.awaitTermination()

    t = run.clock()
    run.op("epoch", epoch)
    wall, cpu = run.since(t)
    urls = _stream_urls(idx)
    run.check(sorted(urls.values()) == [d.url for d in oracle.docs],
              "epoch docs")
    run.wall["index_docs_per_s"] = len(urls) / wall
    run.e2e["index_docs_per_cpu_s"] = len(urls) / cpu
    run.index_bytes(_dir_bytes(idx), len(urls), pdf)
    run.mark("epoch")

    def one_query():
        cls, q, _ = stream.next()
        t = run.clock()
        with tracer.span("incremental.search_query"):
            rows = run.op(q, lambda: ixer.search_query(q, K).collect())
        wall, cpu = run.since(t)
        if rows is not None:
            got = [(urls[r["doc_id"]], r["score"]) for r in rows]
            run.check(oracles.stream_topk_ok(got, oracle, q, K),
                      f"stream {cls}: {q}")
        return cls, wall, cpu

    run.queries(one_query, len(inputs.QUERY_CLASSES), run.clock())


# name -> (prepare inputs, run, extra layers for traced runs or None)
WORKLOADS = {
    "search": (search_inputs, search, None),
    "ingest": (ingest_inputs, ingest, dedup_layers),
}
