"""The engine's decoded blocks view and driver directory: cached vs
uncached rank identity, the scan fallback above the directory bound, no
Python on a warm cached engine's query path, and the Spark actions each
query route issues.

Every test builds an index with ``block_size`` 4 and ``wand_min_blocks``
2, so every block-max pruned route fires on a 120-doc corpus. Once a
cached engine registers its view, every engine over that index reads
the cache (Spark matches cached plans across DataFrames), so the
uncached engine always runs first.
"""

from collections import Counter

from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.functions.tokenizer import tokenize_text
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators import query_eval
from search_engine_spark.operators.query_eval import SearchEngine
from search_engine_spark.sources.pages_source import pages_df

CFG = EngineConfig(index_partitions=4, block_size=4, wand_min_blocks=2)
_ROUTES = (
    "_term_scores_topk_pruned", "_and_scores_block_pruned",
    "_or_scores_block_pruned", "_tree_scores_block_pruned",
)
_PREFIX = "https://example.org/wiki/doc0000"


def _build(spark, tmp_path) -> str:
    out = str(tmp_path / "idx")
    build_index(spark, pages_df(spark, n_docs=120, seed=5), out, CFG)
    return out


def _queries(eng: SearchEngine):
    """One query per route, from the index's own terms: two head terms
    (above wand_min_blocks), a rare one (at most wand_min_blocks blocks)
    and a phrase and proximity pair from one document's text."""
    by_df = eng.dictionary.orderBy(F.desc("df"), "term").collect()
    a, b = by_df[4]["term"], by_df[5]["term"]
    rare = next(r["term"] for r in by_df
                if r["df"] <= CFG.block_size * CFG.wand_min_blocks)
    text = (eng.store.read_stage(eng.spark, "docs")
            .filter(F.col("doc_id") == 3).first()["text"])
    toks = tokenize_text(text, eng.cfg)
    return {
        "term_pruned": a,
        "term_full": rare,
        "and": f"{a} && {b}",
        "or": f"{a} || {b}",
        "tree_not": f"({a} || {b}) && !{rare}",
        "phrase": f'"{toks[0]} {toks[1]}"',
        "proximity": f'"{toks[0]} {toks[2]}"/3',
    }


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _run_all(eng: SearchEngine, qs: dict) -> dict:
    pred = F.col("url").startswith(_PREFIX)
    out = {name: _rows(eng.search(q, 10, with_meta=False))
           for name, q in qs.items()}
    out["or_filtered"] = _rows(
        eng.search(qs["or"], 10, with_meta=False, meta_filter=pred))
    out["enriched"] = _rows(eng.search(qs["tree_not"], 10))
    out["batch"] = sorted(
        _rows(eng.search_batch(list(qs.values()), 10)),
        key=lambda r: (r[2], -r[1], r[0]),
    )
    out["count"] = [eng.count(q) for q in qs.values()]
    return out


def _spy_routes(eng: SearchEngine) -> Counter:
    fired: Counter = Counter()
    for name in _ROUTES:
        fn = getattr(eng, name)

        def spy(*a, _fn=fn, _name=name, **kw):
            fired[_name] += 1
            return _fn(*a, **kw)

        setattr(eng, name, spy)
    return fired


def test_cached_engine_rank_identical_to_uncached(spark, tmp_path, monkeypatch):
    """The cached view (the default, Python-free path) with its driver
    directory, and a cached engine above the directory bound (per-query
    lookup scans), both return exactly what the uncached view returns on
    every route — ids, order and scores, with no tolerance."""
    out = _build(spark, tmp_path)
    plain = SearchEngine(spark, out, cache=False)
    assert not plain.directory_loaded
    qs = _queries(plain)
    want = _run_all(plain, qs)

    eng = SearchEngine(spark, out)
    assert eng.directory_loaded
    fired = _spy_routes(eng)
    got = _run_all(eng, qs)
    monkeypatch.setattr(query_eval, "DIRECTORY_MAX_ROWS", 0)
    scan = SearchEngine(spark, out)
    assert not scan.directory_loaded
    scan_fired = _spy_routes(scan)
    got_scan = _run_all(scan, qs)
    eng.blocks.unpersist()
    eng.docmeta.unpersist()

    assert set(fired) == set(_ROUTES), fired
    assert set(scan_fired) == set(_ROUTES), scan_fired
    assert all(want[k] for k in qs), want  # every query matches something
    assert got == want
    assert got_scan == want


_PYTHON_NODES = {"MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "LogicalRDD"}


def _python_nodes(df) -> list:
    """Python-running nodes of ``df``'s optimized plan. A cached
    relation is a leaf there, so the decode inside it is not counted.
    ``LogicalRDD`` is a frame built from a Python list."""
    found, todo = [], [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() in _PYTHON_NODES:
            found.append(node.nodeName())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return found


def test_cached_engine_query_plans_run_no_python(spark, tmp_path, monkeypatch):
    """After the cache fills, no job on any route's query path holds a
    MapInPandas / ArrowEvalPython / BatchEvalPython node (or a
    list-built frame) outside the cached decoded blocks; a second
    engine over the index reuses the same cache entry."""
    out = _build(spark, tmp_path)
    eng = SearchEngine(spark, out)
    qs = _queries(eng)
    eng.blocks.count()  # fills the cache: the one-time decode
    fired = _spy_routes(eng)

    DataFrame = type(eng.blocks)
    seen = []
    for method in ("collect", "count"):
        orig = getattr(DataFrame, method)

        def wrapped(self, _orig=orig):
            seen.append(_python_nodes(self))
            return _orig(self)

        monkeypatch.setattr(DataFrame, method, wrapped)
    _run_all(eng, qs)
    monkeypatch.undo()

    assert set(fired) == set(_ROUTES), fired
    assert seen and not any(seen), seen
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
    n_cached = len(storage())
    again = SearchEngine(spark, out)
    again.blocks.count()
    again.docmeta.count()
    assert len(storage()) == n_cached
    eng.blocks.unpersist()
    eng.docmeta.unpersist()


def _spy_actions(monkeypatch, DataFrame) -> list:
    """Record the columns of every frame ``collect``ed or ``count``ed."""
    seen = []
    for method in ("collect", "count"):
        orig = getattr(DataFrame, method)

        def wrapped(self, _orig=orig):
            seen.append(tuple(self.columns))
            return _orig(self)

        monkeypatch.setattr(DataFrame, method, wrapped)
    return seen


def test_engine_actions_per_route(spark, tmp_path, monkeypatch):
    """A warm engine with its directory loaded runs only scoring jobs:
    each route's ``search`` collects a fixed number of (doc_id, score)
    frames — phase-1 top-k where the route has one, then the hits —
    and never reads the dictionary, block metadata or docmeta. Absent
    terms answer (0, 0) without a dictionary scan."""
    out = _build(spark, tmp_path)
    eng = SearchEngine(spark, out)
    assert eng.directory_loaded
    qs = _queries(eng)
    _run_all(eng, qs)  # warm: cache filled, every route run once
    fired = _spy_routes(eng)
    want = {"term_full": 1, "term_pruned": 2, "and": 1, "or": 2,
            "tree_not": 2, "phrase": 1}
    got = {}
    for name in want:
        seen = _spy_actions(monkeypatch, type(eng.blocks))
        eng.search(qs[name], 10)
        monkeypatch.undo()
        assert all(cols == ("doc_id", "score") for cols in seen), (name, seen)
        got[name] = len(seen)

    seen = _spy_actions(monkeypatch, type(eng.blocks))
    stats = eng.term_stats(["zzabsent", "zzmissing"])
    hits = eng.search("zzabsent || zzmissing", 10).collect()
    monkeypatch.undo()
    eng.blocks.unpersist()
    eng.docmeta.unpersist()

    assert got == want
    assert set(fired) == set(_ROUTES), fired
    assert stats == {"zzabsent": (0, 0), "zzmissing": (0, 0)}
    assert hits == []
    # the hit collect and the caller's, no dictionary scan
    assert seen == [("doc_id", "score"), ("doc_id", "score", "url", "title")], seen
