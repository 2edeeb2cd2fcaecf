"""Randomized differential test: batch and streaming engines vs RefIndex.

One small corpus with forced (tf, doc_len) ties — every text is indexed
under three urls — is indexed twice: as a batch index whose tiny blocks
(``block_size`` 4, ``wand_min_blocks`` 2) and lowered salt threshold
send queries down every pruned route, and as a streamed
``IncrementalIndexer`` index. The batch index is opened twice: cached,
with its driver directory, and uncached, so every lookup is a scan.
Random ASTs over AND / OR / NOT / phrase / proximity, with duplicate
terms, absent terms and the empty phrase, must rank exactly as the
single-node oracle does on every surface.

One known defect is tolerated, and only where it lives: the flat-OR
pruned route (``_or_scores_block_pruned``) sums each doc's per-term
scores with a ``groupBy``, in an order that differs from doc to doc, so
for three or more distinct terms docs that tie exactly in the oracle
can differ by an ulp and leave the (score desc, doc_id asc) tie-break.
For those queries exact oracle ties may come in any order, and any of
them may be cut at k; every other query must match order exactly.
``more_like_this`` sums the same way, so it gets the same allowance.

The stream and the batch index share one BM25 (``codec.bm25_idf`` as a
literal times ``codec.bm25_stf_col``) and the same integer n and
token total, so their full score sets are bit-identical. The fixture's
"ff" has df 9 of 48, where JVM ``log`` and ``math.log`` differ by an
ulp, so an idf computed in the JVM would show.
"""

import os
import random

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from search_engine_spark.config import EngineConfig
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators import query_eval
from search_engine_spark.operators.query_eval import SearchEngine
from search_engine_spark.oracle.refmodel import RefIndex
from search_engine_spark.plans import query_parser as qp
from search_engine_spark.streaming.incremental import IncrementalIndexer

CFG = EngineConfig(
    index_partitions=4, block_size=4, wand_min_blocks=2,
    salt_df_threshold=30, salt_buckets=2,
)
VOCAB = ("aa", "bb", "cc", "dd", "ee", "ff")
ABSENT = "zz"
PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def _texts():
    rng = random.Random(11)
    weights = (8, 5, 3, 2, 1)  # skewed: "aa" spans many blocks and salts
    templates = [
        " ".join(rng.choices(VOCAB[:5], weights, k=rng.randint(3, 9)))
        for _ in range(16)
    ]
    # "ff" ends three templates: df 9 of 48 docs
    templates = [t + " ff" if i % 6 == 0 else t for i, t in enumerate(templates)]
    # each template three times: equal (tf, doc_len) → exact score ties
    return [t for t in templates for _ in range(3)]


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("differential")
    rows = [
        (f"http://d/{i:03d}", None, None, t, "ru")
        for i, t in enumerate(_texts())
    ]
    oracle = RefIndex.from_rows(
        [{"url": u, "title": "", "text": t} for u, _, _, t, _ in rows], CFG
    )
    pages = spark.createDataFrame(rows, PAGES_DDL)
    build_index(spark, pages, str(tmp / "batch"), CFG)
    batch = SearchEngine(spark, str(tmp / "batch"))
    scan = SearchEngine(spark, str(tmp / "batch"), cache=False)
    landing = str(tmp / "landing")
    os.makedirs(landing)
    pages.coalesce(1).write.parquet(landing, mode="append")
    stream = IncrementalIndexer(spark, str(tmp / "stream"), CFG)
    stream.start(landing).awaitTermination(120)
    return batch, stream, oracle, scan


_terms = st.sampled_from(VOCAB + (ABSENT,)).map(qp.Term)
_phrases = st.builds(
    qp.Phrase,
    st.lists(st.sampled_from(VOCAB + (ABSENT,)), max_size=3).map(tuple),
    st.one_of(st.none(), st.integers(min_value=0, max_value=4)),
)
# terms twice as likely as phrases, AND/OR twice as likely as NOT, so
# the pruned routes (which need prunable positive terms) come up often
_asts = st.recursive(
    st.one_of(_terms, _terms, _phrases),
    lambda kids: st.one_of(
        st.builds(qp.And, kids, kids),
        st.builds(qp.Or, kids, kids),
        kids.map(qp.Not),
    ),
    max_leaves=5,
)
T = qp.Term


def _render(n) -> str:
    if isinstance(n, qp.Term):
        return n.term
    if isinstance(n, qp.Phrase):
        prox = "" if n.proximity is None else f"/{n.proximity}"
        return f'"{" ".join(n.terms)}"{prox}'
    if isinstance(n, qp.Not):
        return f"!({_render(n.child)})"
    op = "&&" if isinstance(n, qp.And) else "||"
    return f"({_render(n.left)} {op} {_render(n.right)})"


def _flat_or_terms(n):
    if isinstance(n, qp.Term):
        return [n.term]
    if isinstance(n, qp.Or):
        l, r = _flat_or_terms(n.left), _flat_or_terms(n.right)
        if l is not None and r is not None:
            return l + r
    return None


def _assert_ranked(got, ranked, k, what, exact_ties=True):
    """``got`` is the oracle's top-k of ``ranked`` (its full ranking):
    same ids in the same order, scores within 1e-9. Without
    ``exact_ties``, a position may hold any doc whose oracle score
    equals that of the oracle's doc there."""
    want = ranked[:k]
    if exact_ties:
        assert [d for d, _ in got] == [d for d, _ in want], what
    else:
        oracle = dict(ranked)
        assert len({d for d, _ in got}) == len(got), what
        assert [oracle.get(d) for d, _ in got] == [s for _, s in want], what
    for (d, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-9, (what, d, gs, ws)


@given(ast=_asts, k=st.integers(min_value=1, max_value=12))
# one pinned example per pruned route: single term, flat AND, flat OR,
# mixed tree; and k=0, which every surface answers with no hits
@example(ast=T("aa"), k=3)
@example(ast=T("aa"), k=0)
@example(ast=qp.And(T("aa"), T("bb")), k=5)
@example(ast=qp.Or(qp.Or(T("aa"), T("bb")), T("cc")), k=4)
@example(ast=qp.Or(qp.And(T("aa"), T("bb")), qp.And(T("cc"), qp.Not(T("dd")))), k=5)
@settings(max_examples=16, deadline=None)
def test_engines_match_oracle_on_random_queries(engines, ast, k):
    batch, stream, oracle, scan = engines
    q = _render(ast)
    ranked = oracle.search(q, oracle.n_docs)
    rows = lambda df: [(r["doc_id"], r["score"]) for r in df.collect()]
    or_terms = _flat_or_terms(qp.parse(q))
    for eng in (batch, scan):
        _assert_ranked(
            rows(eng.search(q, k, with_meta=False)), ranked, k,
            ("search", eng.directory_loaded, q, k),
            exact_ties=or_terms is None or len(set(or_terms)) < 3,
        )
    _assert_ranked(rows(stream.search_query(q, k)), ranked, k,
                   ("search_query", q, k))
    full = dict(ranked)
    got = dict(rows(batch.scores_df(q)))
    assert got.keys() == full.keys(), ("scores_df", q)
    for d, s in got.items():
        assert abs(s - full[d]) <= 1e-9, ("scores_df", q, d, s, full[d])


@given(ast=_asts)
@example(ast=T("ff"))
@example(ast=qp.Or(qp.And(T("ff"), T("aa")), qp.Phrase(("bb", "ff"), None)))
@settings(max_examples=12, deadline=None)
def test_stream_scores_bit_identical_to_batch(engines, ast):
    """The stream, ingested in one epoch (so its doc ids are the batch
    ids), scores every match exactly as the batch ``scores_df`` does."""
    batch, stream = engines[:2]
    q = _render(ast)
    hexed = lambda df: {r["doc_id"]: float.hex(r["score"]) for r in df.collect()}
    assert hexed(stream.search_query(q, batch.n_docs)) == hexed(
        batch.scores_df(q)
    ), q


@pytest.mark.parametrize("cached", [True, False])
def test_more_like_this_matches_oracle(engines, cached):
    """``more_like_this(d, k)`` ranks the other docs by the sum of the
    oracle's BM25 over d's distinct terms, on the cached engine (driver
    directory) and the uncached one (scans)."""
    oracle = engines[2]
    eng = engines[0] if cached else engines[3]
    k = 10
    for d in (0, 7, 31):
        terms = sorted(
            t for t, plist in oracle.postings.items()
            if any(doc == d for doc, _, _ in plist)
        )
        sums: dict = {}
        for t in terms:
            for e, s in oracle.term_scores(t).items():
                if e != d:
                    sums[e] = sums.get(e, 0.0) + s
        ranked = sorted(sums.items(), key=lambda x: (-x[1], x[0]))
        got = [(r["doc_id"], r["score"])
               for r in eng.more_like_this(d, k).collect()]
        _assert_ranked(got, ranked, k, ("more_like_this", cached, d),
                       exact_ties=False)


def test_directory_row_bound_covers_salted_blocks(engines):
    """The cached batch engine holds its directory, the uncached one
    does not, and the meta.json row bound covers what is held, with
    "aa" salted over several blocks."""
    batch, scan = engines[0], engines[3]
    assert batch.directory_loaded and not scan.directory_loaded
    n_blocks = sum(len(rows) for _, rows in batch._blockmeta_cache.values())
    held = len(batch._stats_cache) + n_blocks + len(batch._hit_meta)
    # block_id = salt * 2**20 + seq: "aa" spans salt 1 too
    assert any(r["block_id"] >= 1 << 20 for r in batch._blockmeta_cache["aa"][1])
    assert held <= query_eval._directory_rows(batch.store.read_meta(), CFG)


def test_negative_k_raises(engines):
    batch, stream = engines[:2]
    for run in (batch.search, lambda q, k: batch.search_batch([q], k),
                stream.search, stream.search_query):
        with pytest.raises(ValueError, match="k must be >= 0"):
            run("aa", -1)


def test_phrase_without_positions_raises(spark, tmp_path):
    """Both engines refuse a phrase over an index built without token
    ordinals instead of answering it as a bag of words."""
    cfg = EngineConfig(index_partitions=2, store_positions=False)
    pages = spark.createDataFrame(
        [("http://p/0", None, None, "aa bb", "ru")], PAGES_DDL
    )
    build_index(spark, pages, str(tmp_path / "batch"), cfg)
    batch = SearchEngine(spark, str(tmp_path / "batch"), cache=False)
    landing = str(tmp_path / "landing")
    pages.write.parquet(landing)
    stream = IncrementalIndexer(spark, str(tmp_path / "stream"), cfg)
    stream.start(landing).awaitTermination(120)
    for run in (batch.scores_df, stream.search_query):
        with pytest.raises(RuntimeError, match="store_positions"):
            run('aa && "aa bb"')
        assert run("aa || bb").count() == 1
