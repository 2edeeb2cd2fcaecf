"""Plan-shape guards + scaling-bench corpus invariants.

These tests pin the physical-plan properties the 100 TB design relies
on: parquet predicate pushdown + column pruning on the blocks scan, and
the scaling corpus actually being URL-unique (a silent prefixing bug
once collapsed a 2M-doc benchmark corpus to 4k docs through dedup).
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.query_eval import SearchEngine
from search_engine_spark.sources.pages_source import pages_df

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))


def test_blocks_scan_pushes_term_filter(spark, tmp_path):
    out = str(tmp_path / "idx")
    build_index(spark, pages_df(spark, n_docs=80, seed=3), out,
                EngineConfig(index_partitions=4))
    eng = SearchEngine(spark, out, cache=False)
    plan = (
        eng.blocks.filter(F.col("term") == "x")
        .select("doc_gaps", "tfs", "dls")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(term), EqualTo(term,x)]" in plan
    # column pruning: the scan must not read the metadata columns
    assert "max_score" not in plan.split("ReadSchema")[1][:400]


def test_hit_enrichment_pushes_docid_in_filter(spark, tmp_path):
    """search(with_meta=True) must not broadcast/shuffle corpus-sized
    docmeta: the docmeta scan carries a pushed In(doc_id, …) predicate
    and only the ≤k-row filtered side broadcasts (VERDICT r1 #1)."""
    out = str(tmp_path / "idx")
    build_index(spark, pages_df(spark, n_docs=120, seed=5), out,
                EngineConfig(index_partitions=4))
    eng = SearchEngine(spark, out, cache=False)
    hits = eng.search("математика || информация", k=5, with_meta=True)
    # the internal docmeta lookup is an In-pruned scan ...
    scan_plan = (
        eng._last_enrich_scan._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [In(doc_id" in scan_plan, scan_plan
    # ... and the returned frame is a pure local relation: no scan,
    # join, or exchange of a corpus-sized table anywhere in its plan
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan
    assert "Parquet" not in plan and "BroadcastExchange" not in plan
    assert hits.count() == 5
    row = hits.first()
    assert row["url"] is not None and row["title"] is not None


def test_meta_filtered_search_pushes_predicate(spark, tmp_path):
    """search(meta_filter=…) (VERDICT r2 #6): the predicate is pushed
    into a doc_id-only docmeta scan, the filter applies BEFORE top-k
    (not a post-hoc trim), and results equal the hand-filtered truth."""
    out = str(tmp_path / "idx")
    build_index(spark, pages_df(spark, n_docs=120, seed=5), out,
                EngineConfig(index_partitions=4))
    eng = SearchEngine(spark, out, cache=False)
    # urls doc000100..doc000119 — a selective 20-of-120 predicate
    prefix = "https://example.org/wiki/doc0001"
    pred = F.col("url").startswith(prefix)
    got = eng.search("математика", k=5, with_meta=False, meta_filter=pred)
    scan_plan = (
        eng._last_meta_scan._jdf.queryExecution().executedPlan().toString()
    )
    assert f"StringStartsWith(url,{prefix})" in scan_plan, scan_plan
    # column pruning: the allowed-set scan reads doc_id (+ the filter
    # column), never url/title/text-adjacent columns
    assert "title" not in scan_plan.split("ReadSchema")[1][:300]
    allowed = {
        r["doc_id"] for r in eng.docmeta.filter(pred).collect()
    }
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.scores_df("математика")
        .filter(F.col("doc_id").isin(list(allowed)))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(5)
        .collect()
    ]
    assert [
        (r["doc_id"], round(r["score"], 9)) for r in got.collect()
    ] == want


def test_snippet_join_pushes_docid_in_filter(spark, tmp_path):
    out = str(tmp_path / "idx")
    build_index(spark, pages_df(spark, n_docs=120, seed=5), out,
                EngineConfig(index_partitions=4))
    eng = SearchEngine(spark, out, cache=False)
    snip = eng.search_with_snippets("математика || информация", k=5)
    scan_plan = (
        eng._last_snippet_scan._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [In(doc_id" in scan_plan, scan_plan
    plan = snip._jdf.queryExecution().executedPlan().toString()
    assert "Parquet" not in plan and "BroadcastExchange" not in plan
    # snippets are built on the driver: no Python worker runs
    assert "MapInPandas" not in plan, plan
    rows = snip.collect()
    assert len(rows) == 5
    assert all(r["snippet"] for r in rows)


def test_more_like_this_pushes_docid_and_term_filters(spark, tmp_path):
    """more_like_this (VERDICT r4 #1): the source doc's term set comes
    from a doc_id-pushed scan of the docs stage — never from
    postings.filter(doc_id == X), an unpruned full scan of a table
    sorted by (term, salt, doc_id). The scoring plan reads only the
    blocks stage, under a pushed In(term, …) predicate, and the term set
    is identical to the postings-derived one (build-tokenization
    parity)."""
    out = str(tmp_path / "idx")
    build_index(spark, pages_df(spark, n_docs=120, seed=5), out,
                EngineConfig(index_partitions=4))
    eng = SearchEngine(spark, out, cache=False)
    got = eng.more_like_this(7, k=10)
    rows = got.collect()
    assert len(rows) == 10
    # source-doc lookup: doc_id-pushed scan of the docs stage, text only
    scan_plan = (
        eng._last_mlt_scan._jdf.queryExecution().executedPlan().toString()
    )
    assert "EqualTo(doc_id,7)" in scan_plan, scan_plan
    # the lookup reads (doc_id, text) from the docs stage — a postings
    # scan would read term/tf columns (plan Location paths truncate, so
    # assert on ReadSchema instead)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in scan_plan
    # scoring side: every scan of the result plan is a blocks scan
    # (the one reading doc_gaps; plan Location paths truncate, so
    # identify scans by ReadSchema) carrying a pushed term predicate —
    # no postings or dictionary scan, and no broadcast join
    import re

    plan = got._jdf.queryExecution().executedPlan().toString()
    scans = re.split(r"FileScan parquet", plan)[1:]
    assert scans, plan
    for seg in scans:
        assert "doc_gaps:" in seg.split("ReadSchema", 1)[-1][:400], seg[:800]
        pushed = seg.split("PushedFilters:", 1)[1][:2000]
        assert "In(term," in pushed, seg[:800]
    assert "BroadcastExchange" not in plan, plan
    # term-set parity: tokenizing the stored text reproduces exactly the
    # distinct postings terms of the doc (what the old plan computed)
    want_terms = {
        r["term"]
        for r in eng.postings.filter(F.col("doc_id") == 7)
        .select("term").distinct().collect()
    }
    from search_engine_spark.functions.tokenizer import tokenize_text

    text = (
        eng.store.read_stage(spark, "docs")
        .filter(F.col("doc_id") == 7).first()["text"]
    )
    assert set(tokenize_text(text, eng.cfg)) == want_terms


def test_suggest_prefix_pushed_and_dictionary_range_sorted(spark, tmp_path):
    """VERDICT r4 #6: suggest's startswith predicate is pushed into the
    dictionary parquet scan, and the dictionary is term-RANGE-partitioned
    at rest (disjoint per-file term ranges) so that pushdown actually
    skips row groups via footer min/max."""
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path / "idx")
    # AQE's small-partition coalescing folds this tiny test vocab into
    # one file (fine — disjointness is trivially true); disable it for
    # the build so the multi-file range layout is actually exercised
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key)
    spark.conf.set(coalesce_key, "false")
    try:
        build_index(spark, pages_df(spark, n_docs=120, seed=5), out,
                    EngineConfig(index_partitions=4))
    finally:
        spark.conf.set(coalesce_key, prev)
    eng = SearchEngine(spark, out, cache=False)
    got = eng.suggest("мате", 10)
    assert got == sorted(got) and got, got
    plan = (
        eng._last_suggest_scan._jdf.queryExecution().executedPlan().toString()
    )
    assert "StringStartsWith(term," in plan, plan
    # at rest: per-file term ranges are disjoint (range partitioning),
    # which is what makes the pushed predicate prune instead of scan
    ranges = []
    for p in sorted(glob.glob(os.path.join(out, "dictionary", "part-*"))):
        f = pq.ParquetFile(p)
        if f.metadata.num_rows == 0:
            continue
        stats = [
            f.metadata.row_group(i).column(0).statistics
            for i in range(f.metadata.num_row_groups)
        ]
        ranges.append(
            (min(s.min for s in stats), max(s.max for s in stats))
        )
    assert len(ranges) > 1, "fixture must produce multiple non-empty files"
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)


def test_scaling_corpus_urls_unique(spark, tmp_path):
    from cluster_scaling_bench import generate_corpus

    out = str(tmp_path / "pages")
    n = generate_corpus(spark, 800, out, chunk=200)
    df = spark.read.parquet(out)
    assert df.count() == n
    # the generator plants ~2% duplicate urls WITHIN a chunk (dedup
    # exercise); across chunks urls must not collide, so distinct urls
    # == the requested doc count exactly
    assert df.select("url").distinct().count() == 800
    # and every chunk's rows carry its unique prefix
    assert df.filter(~F.col("url").rlike(r"^https://c\d{4}\.")).count() == 0


def test_batch_and_snippet_search_accept_meta_filter(spark, tmp_path):
    """meta_filter threads through search_batch / search_with_snippets
    with per-query results equal to filtered search() calls."""
    out = str(tmp_path / "idx")
    build_index(spark, pages_df(spark, n_docs=120, seed=5), out,
                EngineConfig(index_partitions=4))
    eng = SearchEngine(spark, out, cache=False)
    pred = F.col("url").startswith("https://example.org/wiki/doc0000")
    qs = ["математика", "информация || наука"]
    got = {}
    for r in eng.search_batch(qs, k=5, meta_filter=pred).collect():
        got.setdefault(r["query"], []).append((r["doc_id"], round(r["score"], 9)))
    for q in qs:
        want = [(r["doc_id"], round(r["score"], 9)) for r in
                eng.search(q, 5, with_meta=False, meta_filter=pred).collect()]
        assert got.get(q, []) == want, q
    snip = eng.search_with_snippets(qs[0], k=5, meta_filter=pred)
    rows = snip.collect()
    assert rows and all("snippet" in r.asDict() for r in rows)
    allowed = {r["doc_id"] for r in eng.docmeta.filter(pred).collect()}
    assert {r["doc_id"] for r in rows} <= allowed
