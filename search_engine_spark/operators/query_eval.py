"""Query evaluation: AST → DataFrame plan, BM25 top-k, block-max pruning.

Spark lifecycle (SURVEY.md §3.2): the driver parses the query
(microseconds) and compiles the AST into a DataFrame plan — term leaves
are term-predicate scans of the ``blocks`` table (parquet predicate
pushdown prunes row groups by the sorted ``term`` column), AND/OR/NOT
become joins/unions/anti-joins on doc_id. Blocks stay varbyte at rest;
the engine reads them through ``decoded_view`` (scalar pandas UDFs turn
the payloads into arrays), caches that view so each block is decoded
once per engine, and scores it in the JVM: ``explode(arrays_zip(...))``
plus the Column BM25 ``codec.bm25_stf_col`` — a warm query starts no
Python worker. Top-k is ``orderBy(score desc, doc_id asc).limit(k)``
(Spark TakeOrdered).

Boolean semantics are the reference bitmap algebra (query_evaluator.cpp
:192-238) re-expressed as doc-id set dataflow — at 10^12 docs bitmaps
are infeasible, sets shuffle-partition instead (SURVEY §4.1). Scores:
BM25 summed over matched positive terms; NOT contributes score 0 over
the docmeta universe; rank ties break by doc_id asc
(query_evaluator.h:22-28). One :func:`eval_tree` compiles this algebra
for both engines: ``SearchEngine`` binds it to block-scored term leaves,
the streaming ``IncrementalIndexer.search_query`` to segment postings.

Block-max pruning (north_rule): for single-term queries over large
posting lists, a two-phase exact top-k — phase 1 scores just enough
highest-``max_score`` blocks to cover k docs, establishing an exact
threshold θ; phase 2 scores only remaining blocks with ``max_score > θ``
(a parquet-pushable predicate on block metadata). Always rank-identical
to the full scan. Multi-term pruning: flat ANDs use exact block-range
skipping driven by the rarest term, flat ORs use the two-phase θ WAND,
and arbitrary mixed AND/OR/NOT trees route through
``_tree_scores_block_pruned`` (per-occurrence upper-bound sum +
restricted-leaf phase 1), so no shape above ``wand_min_blocks`` pays a
full multi-term block scan.

Driver directory: a cached engine under ``DIRECTORY_MAX_ROWS`` (bound
from meta.json) holds the dictionary, block metadata and hit (url, title)
on the driver from open; otherwise each lookup is a scan per query.
"""

from __future__ import annotations

import math
import time
from functools import reduce
from typing import Callable, Dict, Iterable, List, Optional, Tuple, Union

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from search_engine_spark.config import EngineConfig
from search_engine_spark.functions import codec
from search_engine_spark.plans import query_parser as qp
from search_engine_spark.sources.index_store import IndexStore

_SCORE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)
_PAYLOADS = ("doc_gaps", "tfs", "dls")
# most rows (dictionary + block metadata + docmeta) a cached engine
# collects at open: measured on 4 cores (6k-140k rows) the load costs
# ~0.4 CPU-s + 17 us/row and saves ~0.2 CPU-s per warm query, so six
# queries repay it at 50k. tracemalloc: 224-481 B/row (224 on sf0.1 gate)
DIRECTORY_MAX_ROWS = 50_000


# module-level UDFs: every engine's view compiles to the same plan, so
# engines over one index share one cache entry
@F.pandas_udf(T.ArrayType(T.LongType()))
def _decode_doc_ids(doc_gaps: pd.Series) -> pd.Series:
    return pd.Series(codec.vb_decode_many(doc_gaps, prefix_sum=True), dtype=object)


@F.pandas_udf(T.ArrayType(T.IntegerType()))
def _decode_ints(payloads: pd.Series) -> pd.Series:
    return pd.Series(
        [v.astype(np.int32) for v in codec.vb_decode_many(payloads)], dtype=object
    )


def decoded_view(blocks: DataFrame) -> DataFrame:
    """The blocks stage with its varbyte payloads decoded: ``doc_gaps``
    becomes the block's doc_ids (array<long>, the gaps prefix-summed),
    ``tfs``/``dls`` become array<int>. A projection over the scan, so
    term/block_id/max_score predicates still push into Parquet, and a
    metadata-only select prunes the decode away."""
    return blocks.select(
        *[c for c in blocks.columns if c not in _PAYLOADS],
        _decode_doc_ids("doc_gaps").alias("doc_gaps"),
        _decode_ints("tfs").alias("tfs"),
        _decode_ints("dls").alias("dls"),
    )


def phrase_ordinal_candidates(
    parts: List[DataFrame], prox: Optional[int]
) -> DataFrame:
    """Join per-term ``(doc_id, p{i} positions)`` frames and keep the
    doc_ids whose token ordinals form the phrase (``prox=None``:
    exists x in p0 with x+i in p_i for every i) or fall within a
    ``+prox`` window of the first term (exists x in p0: every p_i has
    some y with x <= y <= x+prox). All JVM-side. ``parts`` must be
    non-empty (:func:`eval_tree` answers the empty phrase itself)."""
    joined = reduce(lambda a, b: a.join(b, "doc_id"), parts)
    n_terms = len(parts)
    if n_terms == 1:
        return joined.select("doc_id")
    if prox is None:
        cond = F.exists(
            F.col("p0"),
            lambda x: reduce(
                lambda acc, i: acc
                & F.array_contains(F.col(f"p{i}"), x + F.lit(i)),
                range(1, n_terms),
                F.lit(True),
            ),
        )
    else:
        cond = F.exists(
            F.col("p0"),
            lambda x: reduce(
                lambda acc, i: acc
                & F.exists(
                    F.col(f"p{i}"),
                    lambda y: (y >= x) & (y <= x + F.lit(prox)),
                ),
                range(1, n_terms),
                F.lit(True),
            ),
        )
    return joined.filter(cond).select("doc_id")


def eval_tree(
    node: qp.Node,
    leaf: Callable[[str], DataFrame],
    positions: Callable[[str], DataFrame],
    universe: Callable[[], DataFrame],
    restricted: Optional[Dict[str, DataFrame]] = None,
) -> DataFrame:
    """The query AST as a (doc_id, score) plan — the one score algebra
    of the batch and streaming engines; builds plans, runs no job.

    ``leaf(t)`` is term t's (doc_id, score) frame, ``positions(t)`` its
    (doc_id, positions) frame, ``universe()`` the doc_id frame NOT
    anti-joins against. AND and OR sum their children's scores, NOT
    scores 0, a phrase / proximity leaf matches on token ordinals and
    scores the sum of its member terms.

    ``restricted`` (tree-WAND phases) replaces the leaf of a positive
    Term with a block-restricted frame. Phrase members and NOT inners
    always use the full ``leaf``: a restricted NOT inner would ADD
    false matches (the anti-join keeps what the inner set lost)."""
    if isinstance(node, qp.Term):
        if restricted is not None and node.term in restricted:
            return restricted[node.term]
        return leaf(node.term)
    if isinstance(node, qp.Phrase):
        if not node.terms:
            # a whitespace-only quoted phrase parses to Phrase(()):
            # matches nothing
            return universe().limit(0).withColumn("score", F.lit(0.0))
        cand = phrase_ordinal_candidates(
            [
                positions(t).select("doc_id", F.col("positions").alias(f"p{i}"))
                for i, t in enumerate(node.terms)
            ],
            node.proximity,
        )
        scores = (
            reduce(
                DataFrame.unionByName,
                [leaf(t).withColumnRenamed("score", "s") for t in node.terms],
            )
            .groupBy("doc_id")
            .agg(F.sum("s").alias("score"))
        )
        return cand.join(scores, "doc_id", "inner").select("doc_id", "score")
    if isinstance(node, qp.Not):
        inner = eval_tree(node.child, leaf, positions, universe)
        return (
            universe()
            .join(inner.select("doc_id"), "doc_id", "left_anti")
            .withColumn("score", F.lit(0.0))
        )
    if isinstance(node, (qp.And, qp.Or)):
        l, r = (
            eval_tree(c, leaf, positions, universe, restricted)
            for c in (node.left, node.right)
        )
        l = l.withColumnRenamed("score", "ls")
        r = r.withColumnRenamed("score", "rs")
        if isinstance(node, qp.And):
            return l.join(r, "doc_id", "inner").select(
                "doc_id", (F.col("ls") + F.col("rs")).alias("score")
            )
        return l.join(r, "doc_id", "full").select(
            "doc_id",
            (
                F.coalesce(F.col("ls"), F.lit(0.0))
                + F.coalesce(F.col("rs"), F.lit(0.0))
            ).alias("score"),
        )
    raise TypeError(node)


def top_k(k: Optional[int], cfg: EngineConfig) -> int:
    """The k rule of both engines: ``k``, or the configured default when
    None; refuses k < 0."""
    if k is None:
        return cfg.default_top_k
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    return k


def _directory_rows(meta: dict, cfg: EngineConfig) -> float:
    """Upper bound, from meta.json alone, on the driver directory's rows:
    terms + docs + blocks, where a (term, salt) group of n postings has
    < n / block_size + 1 blocks and only a term with df above
    ``salt_df_threshold`` spans more (<= ``salt_buckets``) groups."""
    s = meta.get("stats") or {}
    if s.get("total_terms") is None or s.get("total_postings") is None:
        return math.inf  # no build stats: never load
    terms, postings = s["total_terms"], s["total_postings"]
    salted = min(terms, postings // (cfg.salt_df_threshold + 1))
    groups = terms + salted * (cfg.salt_buckets - 1)
    return terms + postings // cfg.block_size + groups + meta["n_docs"]


def _ranked_block_meta(blocks: DataFrame) -> DataFrame:
    """Block metadata, payloads dropped, with ``rn``: the block's rank in
    its term by (max_score desc, block_id asc) — the exact phase-1
    ordering every θ-pruned path uses."""
    w = Window.partitionBy("term").orderBy(F.desc("max_score"), F.asc("block_id"))
    return blocks.select(
        "term", "block_id", "doc_count", "max_score", "min_doc", "max_doc"
    ).withColumn("rn", F.row_number().over(w))


def _flat_terms(node: qp.Node, op: type) -> Optional[List[str]]:
    """The terms of an AST that is a chain of ``op`` (``qp.And`` or
    ``qp.Or``) over plain terms, else None."""
    if isinstance(node, qp.Term):
        return [node.term]
    if isinstance(node, op):
        l, r = _flat_terms(node.left, op), _flat_terms(node.right, op)
        if l is not None and r is not None:
            return l + r
    return None


class SearchEngine:
    """Query-side facade over a built index directory."""

    def __init__(self, spark: SparkSession, index_dir: str, cache: bool = True):
        from search_engine_spark.session import ensure_shipped

        ensure_shipped(spark)
        self.spark = spark
        self.store = IndexStore(index_dir)
        meta = self.store.read_meta()
        self.cfg = EngineConfig.from_dict(meta["config"])
        self.n_docs: int = meta["n_docs"]
        self.avgdl: float = meta["avgdl"] or 1.0
        # vocabulary size from build-time stats — lets analytics skip
        # their dictionary-size probe job (ADVICE r2); None if absent
        self.n_terms = (meta.get("stats") or {}).get("total_terms") or None
        self.blocks = decoded_view(self.store.read_stage(spark, "blocks"))
        self.docmeta = self.store.read_stage(spark, "docmeta")
        self.dictionary = self.store.read_stage(spark, "dictionary")
        self.postings = (
            self.store.read_stage(spark, "postings")
            if self.cfg.store_positions
            else None
        )
        if cache:
            # hot query-side tables; blocks/docmeta are the per-query
            # scans. Caching the decoded view decodes each block once.
            self.blocks = self.blocks.cache()
            self.docmeta = self.docmeta.cache()
        self.query_log: List[dict] = []
        # memos of the immutable index: term -> (df, cf), term -> (k,
        # top-k ranked block rows), doc_id -> (url, title)
        self._stats_cache, self._blockmeta_cache, self._hit_meta = {}, {}, {}
        bound = _directory_rows(meta, self.cfg)
        self.directory_loaded = cache and bound <= DIRECTORY_MAX_ROWS
        if self.directory_loaded:
            # fill the memos completely; block metadata from the raw
            # stage, so no decode runs
            for r in self.dictionary.select("term", "df", "cf").collect():
                self._stats_cache[r["term"]] = (int(r["df"]), int(r["cf"]))
            raw = self.store.read_stage(spark, "blocks")
            self._memo_block_meta(_ranked_block_meta(raw).collect(), math.inf)
            for r in self.docmeta.select("doc_id", "url", "title").collect():
                self._hit_meta[r["doc_id"]] = (r["url"], r["title"])

    # -- dictionary lookups (driver-side, tiny) ------------------------
    def term_stats(self, terms: List[str]) -> Dict[str, Tuple[int, int]]:
        """(df, cf) per term; memoized — repeated query terms skip the
        dictionary scan (the index is immutable once built)."""
        cache = self._stats_cache
        if self.directory_loaded:  # the whole dictionary: absent is (0, 0)
            return {t: cache.get(t, (0, 0)) for t in terms}
        missing = [t for t in terms if t not in cache]
        if missing:
            rows = self.dictionary.filter(
                F.col("term").isin(missing)
            ).collect()
            found = {r["term"]: (int(r["df"]), int(r["cf"])) for r in rows}
            for t in missing:
                cache[t] = found.get(t, (0, 0))
        return {t: cache[t] for t in terms}

    def _local(self, rows: list, schema: T.StructType) -> DataFrame:
        """A driver-side frame sent through Arrow: a LocalRelation, so
        reading it starts no Python worker (a list-built createDataFrame
        runs a Python task per partition to unpickle its rows)."""
        names = schema.fieldNames()
        table = pa.Table.from_pylist(
            [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
        )
        return self.spark.createDataFrame(table, schema)

    def idf(self, df: int) -> float:
        return codec.bm25_idf(self.n_docs, df)

    def _n_blocks(self, df: int) -> int:
        """Blocks in a posting list of ``df`` docs."""
        return (df + self.cfg.block_size - 1) // self.cfg.block_size

    def prefetch_block_meta(self, terms: List[str], k: int) -> None:
        """ONE metadata job: per-term top-k block rows (max_score desc,
        block_id asc — the exact phase-1 ordering every θ-pruned path
        uses), memoized. The OR and tree routes fetch their phase-1
        rows through it, and ``search_batch`` calls it for ALL queries'
        terms so a B-query batch pays one block-metadata job instead of
        one per query (VERDICT r4 #5). The index is immutable, so
        entries never invalidate — only a larger k refetches."""
        if self.directory_loaded:
            return  # it holds every block
        cache = self._blockmeta_cache
        missing = [
            t for t in dict.fromkeys(terms)
            if t not in cache or cache[t][0] < k
        ]
        if not missing:
            return
        rows = (
            _ranked_block_meta(self.blocks.filter(F.col("term").isin(missing)))
            .filter(F.col("rn") <= k)
            .collect()
        )
        self._memo_block_meta(rows, k, missing)

    def _memo_block_meta(self, rows: list, k: float, terms: Iterable = ()) -> None:
        """Memoize ranked block rows per term as (k, rows); ``terms``
        without rows memoize empty."""
        by_term: Dict[str, list] = {t: [] for t in terms}
        # collect() order is not the window order — restore the phase-1
        # ranking so the [:k] slice and the single-term covering-prefix
        # loop see blocks best-first
        for r in sorted(rows, key=lambda r: r["rn"]):
            by_term.setdefault(r["term"], []).append(r)
        for t, rs in by_term.items():
            self._blockmeta_cache[t] = (k, rs)

    def _cached_block_meta(self, term: str, k: int):
        """Memoized per-term top-k block rows, or None (cache miss /
        cached with a smaller k)."""
        got = self._blockmeta_cache.get(term)
        if got is not None and got[0] >= k:
            return got[1][:k]
        return None

    # -- leaf: one term's (doc_id, score) -------------------------------
    def _block_scores(self, blk: DataFrame, idf: Union[float, Column]) -> DataFrame:
        """(doc_id, score) for every posting of ``blk``'s decoded blocks:
        one row per posting, BM25 as a Column expression. ``idf`` is the
        driver's ``codec.bm25_idf`` value (a literal, so scores stay
        bit-identical with the stored ``max_score`` bounds) or a Column
        picking such literals by ``blk``'s term (``_summed_scores``)."""
        p = blk.select(
            F.lit(idf).alias("idf"), F.explode(F.arrays_zip(*_PAYLOADS)).alias("p")
        )
        stf = codec.bm25_stf_col(
            F.col("p.tfs"), F.col("p.dls"), self.avgdl, self.cfg.k1, self.cfg.b
        )
        return p.select(
            F.col("p.doc_gaps").alias("doc_id"),
            (F.col("idf") * stf).alias("score"),
        )

    def _summed_scores(
        self, idfs: Dict[str, float], pred: Optional[Column] = None
    ) -> DataFrame:
        """(doc_id, score) summed per doc over the blocks of the terms of
        ``idfs`` (term -> idf) that pass ``pred``: one ``term IN (...)``
        scan, each block scored with its term's idf from a literal map."""
        blk = self.blocks.filter(F.col("term").isin(list(idfs)))
        if pred is not None:
            blk = blk.filter(pred)
        idf_col = F.create_map(
            *[F.lit(x) for t, idf in idfs.items() for x in (t, idf)]
        )[F.col("term")]
        return (
            self._block_scores(blk, idf_col)
            .groupBy("doc_id")
            .agg(F.sum("score").alias("score"))
        )

    def _term_scores(self, term: str, df: Optional[int] = None) -> DataFrame:
        if df is None:
            df = self.term_stats([term]).get(term, (0, 0))[0]
        if df == 0:
            return self._local([], _SCORE_SCHEMA)
        blk = self.blocks.filter(F.col("term") == term)
        return self._block_scores(blk, self.idf(df))

    def _term_scores_topk_pruned(
        self,
        term: str,
        df: int,
        k: int,
        allowed: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Two-phase exact block-max top-k for a single-term query.

        Phase-1 block selection is a distributed TakeOrdered of the top
        k blocks by (max_score desc, block_id) — every block holds ≥1
        doc, so the minimal covering prefix is always within the first
        k blocks; the old global-window cumulative sum ran the whole
        term's block metadata through one task (VERDICT r1 #5).

        ``allowed`` (filter-aware pruning, VERDICT r3 #1): when the
        query carries a ``meta_filter``, phase 1 is semi-joined with
        the allowed doc set BEFORE taking θ, so θ is the k-th best
        FILTERED phase-1 score — a valid lower bound on the k-th best
        filtered true score. Phase 2's keep predicate is unchanged
        (max_score bounds every doc, filtered ones included), so a
        filtered query prunes instead of decoding every block."""
        idf = self.idf(df)
        nb_total = self._n_blocks(df)
        meta = self.blocks.filter(F.col("term") == term).select(
            "block_id", "doc_count", "max_score"
        )
        top_meta = self._cached_block_meta(term, k)
        if top_meta is None:
            top_meta = (
                meta.orderBy(F.desc("max_score"), F.asc("block_id"))
                .limit(k)
                .collect()
            )
        phase1_ids, cum = [], 0
        for r in top_meta:
            phase1_ids.append(r["block_id"])
            cum += r["doc_count"]
            # under a filter the minimal covering prefix thins out —
            # keep all k blocks so the filtered phase 1 still finds k
            # docs at selectivities down to ~1/block_size
            if cum >= k and allowed is None:
                break
        if cum < k:
            # tiny list; no pruning value
            self._last_wand_stats = {
                "total_blocks": nb_total,
                "decoded_blocks": nb_total,
                "theta": None,
            }
            return self._term_scores(term, df)
        p1 = self._block_scores(
            self.blocks.filter(
                (F.col("term") == term) & F.col("block_id").isin(phase1_ids)
            ),
            idf,
        )
        if allowed is not None:
            p1 = p1.join(allowed, "doc_id", "leftsemi")
        topk1 = p1.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
        if len(topk1) < k:
            # tiny list, or the filter left < k docs in the best blocks
            # → no safe θ; decode everything (caller re-filters)
            self._last_wand_stats = {
                "total_blocks": nb_total,
                "decoded_blocks": nb_total,
                "theta": None,
            }
            return self._term_scores(term, df)
        theta = topk1[-1]["score"]
        # phase 2: every block that could still beat OR TIE θ (pushable
        # predicate). >= with an epsilon, not >: a doc in another block
        # with score exactly θ and a smaller doc_id wins the tie-break
        # (score desc, doc_id asc) — strict > silently dropped it, and
        # exact ties are common (equal (tf, doc_len) pairs).
        eps = 1e-9 * (1.0 + abs(theta))
        p2_meta_pred = (~F.col("block_id").isin(phase1_ids)) & (
            F.col("max_score") >= theta - eps
        )
        p2 = self._block_scores(
            self.blocks.filter((F.col("term") == term) & p2_meta_pred), idf
        )
        self._last_wand_stats = {
            "total_blocks": nb_total,
            "decoded_blocks": (
                len(phase1_ids) + meta.filter(p2_meta_pred).count()
                if getattr(self, "wand_debug", False)
                else None
            ),
            "theta": theta,
        }
        p1df = self._local(
            [(r["doc_id"], r["score"]) for r in topk1], _SCORE_SCHEMA
        )
        return p1df.unionByName(p2)

    def _positions(self, term: str) -> DataFrame:
        """(doc_id, positions) of one term, for phrase / proximity."""
        if self.postings is None:
            raise RuntimeError("positions not stored; rebuild with store_positions")
        return self.postings.filter(F.col("term") == term).select(
            "doc_id", "positions"
        )

    # -- multi-term block pruning -----------------------------------------
    def _or_scores_block_pruned(
        self,
        terms: List[str],
        stats: Dict[str, Tuple[int, int]],
        k: int,
        allowed: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Exact top-k-valid OR scoring with block-max (WAND-style)
        pruning — extends the single-term two-phase scheme to
        disjunctions using the stored per-block ``max_score`` bounds.

        Phase 1 decodes each term's top-k blocks (per-term window, not
        a global one) and takes the k-th best PARTIAL sum as θ — a
        lower bound on the true k-th best full score. Phase 2 keeps
        block b of term t iff ``max_score_b ≥ θ − Σ_{t'≠t} U_{t'}``
        (U_t = term t's best block bound): any block containing a doc
        with full score ≥ θ satisfies this, so every potential top-k
        doc's score is computed EXACTLY from surviving blocks; docs
        that lose pruned contributions are provably below θ and cannot
        displace the top-k. The per-term keep predicate is a pushable
        (term, max_score) conjunction on the block scan.

        Returns (doc_id, score) valid for top-k consumption only —
        below-θ docs may carry partial sums (``search`` applies
        ``limit(k)``; the full-result ``scores_df`` path never routes
        here).

        ``allowed`` (filter-aware θ, VERDICT r3 #1): phase-1 scores are
        semi-joined with the filtered doc set before taking the k-th
        best, so θ lower-bounds the k-th best FILTERED full score and
        the phase-2 keep predicate stays sound for the filtered query.
        """
        terms = [t for t in terms if stats.get(t, (0, 0))[0] > 0]
        idfs = {t: self.idf(stats[t][0]) for t in terms}
        if not terms:
            return self._local([], _SCORE_SCHEMA)
        # per-term top-k blocks, whose rn==1 rows also carry each
        # term's upper bound: at most one memoized metadata job
        self.prefetch_block_meta(terms, k)
        p1_rows = [r for t in terms for r in self._cached_block_meta(t, k)]
        U: Dict[str, float] = {}
        p1_by_term: Dict[str, List[int]] = {}
        for r in p1_rows:
            if r["rn"] == 1:
                U[r["term"]] = r["max_score"]
            p1_by_term.setdefault(r["term"], []).append(r["block_id"])
        u_total = sum(U.values())
        p1_pred = reduce(
            lambda a, c: a | c,
            [
                (F.col("term") == t) & F.col("block_id").isin(ids)
                for t, ids in p1_by_term.items()
            ],
        )
        p1_scores = self._summed_scores(idfs, p1_pred)
        if allowed is not None:
            p1_scores = p1_scores.join(allowed, "doc_id", "leftsemi")
        topk1 = (
            p1_scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
        )
        total_blocks = sum(self._n_blocks(stats[t][0]) for t in terms)
        if len(topk1) < k:
            # fewer than k candidates in the best blocks → no safe θ;
            # decode everything (still one multi-term pass)
            self._last_wand_stats = {
                "total_blocks": total_blocks,
                "decoded_blocks": total_blocks,
                "theta": None,
            }
            return self._summed_scores(idfs)
        theta = topk1[-1]["score"]
        # epsilon slack: (a+b)−a ≠ b in doubles; keeping extra blocks is
        # always safe, pruning a tying block is not
        eps = 1e-9 * (1.0 + abs(theta))
        keep_pred = reduce(
            lambda a, c: a | c,
            [
                (F.col("term") == t)
                & (F.col("max_score") >= theta - (u_total - U[t]) - eps)
                for t in terms
            ],
        )
        self._last_wand_stats = {
            "total_blocks": total_blocks,
            # the decoded-block count is diagnostics only — an extra
            # metadata job the hot path shouldn't pay; tests opt in
            "decoded_blocks": (
                self.blocks.filter(keep_pred).count()
                if getattr(self, "wand_debug", False)
                else None
            ),
            "theta": theta,
        }
        return self._summed_scores(idfs, keep_pred)

    def _and_scores_block_pruned(
        self, terms: List[str], stats: Dict[str, Tuple[int, int]]
    ) -> DataFrame:
        """Exact AND via df-ascending block-range skipping.

        Every doc in the intersection appears in the rarest term's
        posting list, so its doc_id lies inside one of that term's
        block [min_doc, max_doc] ranges. Those ranges (df/block_size
        rows — driver-sized) broadcast against the other terms' block
        METADATA; blocks outside every range are never scored. This is
        the distributed analogue of doc-at-a-time WAND skipping plus
        the reference report's smaller-operand-first AND ordering
        (report/main.tex:799-810, claimed there, real here) — and it is
        exact, not approximate: pruned blocks provably contain no
        intersection docs."""
        order = sorted(terms, key=lambda t: stats.get(t, (0, 0))[0])
        rare = order[0]
        if stats.get(rare, (0, 0))[0] == 0:
            return self._local([], _SCORE_SCHEMA)
        # every block holds >= 1 doc, so df rows are all of rare's blocks
        ranges = self._cached_block_meta(rare, stats[rare][0])
        if ranges is None:
            ranges = (
                self.blocks.filter(F.col("term") == rare)
                .select("min_doc", "max_doc")
                .collect()
            )
        rng_df = F.broadcast(
            self._local(
                [(r["min_doc"], r["max_doc"]) for r in ranges],
                T.StructType(
                    [T.StructField(c, T.LongType()) for c in ("lo", "hi")]
                ),
            )
        )
        parts = []
        for i, t in enumerate(order):
            blk = self.blocks.filter(F.col("term") == t)
            if i > 0:
                # keep blocks overlapping ANY rare-term range
                blk = (
                    blk.join(
                        rng_df,
                        (F.col("max_doc") >= F.col("lo"))
                        & (F.col("min_doc") <= F.col("hi")),
                        "leftsemi",
                    )
                )
            scored = self._block_scores(blk, self.idf(stats[t][0]))
            parts.append(scored.withColumnRenamed("score", f"s{i}"))
        joined = reduce(lambda a, b: a.join(b, "doc_id", "inner"), parts)
        total = reduce(
            lambda acc, i: acc + F.col(f"s{i}"), range(1, len(order)), F.col("s0")
        )
        return joined.select("doc_id", total.alias("score"))

    # -- general boolean-tree block-max pruning ---------------------------
    @staticmethod
    def _collect_leaf_occurrences(node: qp.Node):
        """Walk the AST → (positive-term multiplicities, terms under any
        NOT, phrase-term multiplicities). Positive = a plain Term leaf
        reachable without crossing a Not or a Phrase."""
        from collections import Counter

        pos: Dict[str, int] = Counter()
        negs: set = set()
        phr: Dict[str, int] = Counter()

        def walk(n: qp.Node, under_not: bool) -> None:
            if isinstance(n, qp.Term):
                if under_not:
                    negs.add(n.term)
                else:
                    pos[n.term] += 1
            elif isinstance(n, qp.Phrase):
                for t in n.terms:
                    if under_not:
                        negs.add(t)
                    else:
                        phr[t] += 1
            elif isinstance(n, qp.Not):
                walk(n.child, True)
            elif isinstance(n, (qp.And, qp.Or)):
                walk(n.left, under_not)
                walk(n.right, under_not)
            else:  # pragma: no cover
                raise TypeError(n)

        walk(node, False)
        return pos, negs, phr

    def _tree_scores_block_pruned(
        self,
        ast: qp.Node,
        stats: Dict[str, Tuple[int, int]],
        k: int,
        allowed: Optional[DataFrame] = None,
    ) -> Optional[DataFrame]:
        """Block-max WAND pruning for ARBITRARY boolean trees (VERDICT r2
        #1) — generalizes `_or_scores_block_pruned` beyond flat shapes.

        Score algebra (:func:`eval_tree`): AND and OR both SUM their children's
        scores, NOT contributes 0 — so any doc's score is a sum of
        per-positive-leaf-occurrence contributions, each either 0 or
        that term's BM25, and ``U_total = Σ_occurrences U(term)`` bounds
        every doc's score from above regardless of tree shape.

        Phase 1 evaluates the tree with each prunable term restricted
        to its top-k blocks by max_score (NOT inners and phrase terms
        stay FULL — restricted leaves only shrink AND/OR match sets and
        scores, so every phase-1 match is a true match whose phase-1
        score lower-bounds its true score; a restricted NOT would
        instead ADD false matches). The k-th phase-1 score is therefore
        a sound θ ≤ the true k-th best.

        Phase 2 keeps block b of prunable term t (multiplicity m) iff
        ``m·max_score_b ≥ θ − (U_total − m·U(t)) − ε`` — a pushable
        (term, max_score) predicate. Any doc with a posting in a pruned
        block has true score < θ (its t-contribution ≤ m·max_score_b,
        everything else ≤ U_total − m·U(t)), so it cannot reach the
        top-k whether phase 2 drops it from an AND or under-scores it;
        every true top-k doc's blocks all survive, so its match AND
        score are exact. Top-k-valid only — routed solely from
        ``search()``.

        Returns None when pruning does not apply (no prunable positive
        leaf above ``wand_min_blocks``); caller falls back to `_eval`.

        ``allowed`` (filter-aware θ, VERDICT r3 #1): the phase-1 tree
        evaluation is semi-joined with the filtered doc set before the
        k-th score is taken, making θ a valid lower bound for the
        FILTERED query; the phase-2 block predicate is unchanged.
        """
        pos, negs, phr = self._collect_leaf_occurrences(ast)
        nb = lambda t: self._n_blocks(stats.get(t, (0, 0))[0])
        # prunable = positive leaves with postings, not also under a NOT
        # (NOT needs the exact inner set) and not also a phrase term
        # (phrases need full postings for position checks)
        prunable = {
            t: m
            for t, m in pos.items()
            if stats.get(t, (0, 0))[0] > 0 and t not in negs and t not in phr
        }
        if not prunable or max(nb(t) for t in prunable) <= self.cfg.wand_min_blocks:
            return None

        # per-term upper bounds over ALL scoring leaves (positive + phrase)
        u_terms = [
            t
            for t in set(pos) | set(phr)
            if stats.get(t, (0, 0))[0] > 0
        ]
        # the per-term top-k blocks give both the per-term upper bound
        # (the rn==1 row's max_score) and the phase-1 block ids: at most
        # one memoized metadata job
        self.prefetch_block_meta(u_terms, k)
        topk_rows = [r for t in u_terms for r in self._cached_block_meta(t, k)]
        U: Dict[str, float] = {}
        p1_by_term: Dict[str, List[int]] = {}
        for r in topk_rows:
            if r["rn"] == 1:
                U[r["term"]] = r["max_score"]
            if r["term"] in prunable:
                p1_by_term.setdefault(r["term"], []).append(r["block_id"])
        u_total = sum(pos.get(t, 0) * U.get(t, 0.0) for t in set(pos)) + sum(
            phr.get(t, 0) * U.get(t, 0.0) for t in set(phr)
        )

        def leaf(t: str, blk_pred) -> DataFrame:
            return self._block_scores(
                self.blocks.filter((F.col("term") == t) & blk_pred),
                self.idf(stats[t][0]),
            )

        p1_frames = {
            t: leaf(t, F.col("block_id").isin(ids))
            for t, ids in p1_by_term.items()
        }
        p1_scores = self._eval(ast, stats, p1_frames)
        if allowed is not None:
            p1_scores = p1_scores.join(allowed, "doc_id", "leftsemi")
        topk1 = (
            p1_scores.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        total_blocks = sum(nb(t) for t in set(pos) | set(phr) | negs)
        if len(topk1) < k:
            # fewer than k matches in the best blocks → no safe θ
            self._last_wand_stats = {
                "total_blocks": total_blocks,
                "decoded_blocks": total_blocks,
                "theta": None,
            }
            return self._eval(ast, stats)
        theta = topk1[-1]["score"]
        eps = 1e-9 * (1.0 + abs(theta))  # (a+b)−a ≠ b in doubles
        thresholds = {
            t: (theta - (u_total - m * U.get(t, 0.0))) / m - eps
            for t, m in prunable.items()
        }
        p2_pred = {
            t: F.col("block_id").isin(p1_by_term.get(t, []))
            | (F.col("max_score") >= thresholds[t])
            for t in prunable
        }
        if getattr(self, "wand_debug", False):
            keep = reduce(
                lambda a, c: a | c,
                [(F.col("term") == t) & p for t, p in p2_pred.items()],
            )
            unpruned = sum(
                nb(t) for t in (set(pos) | set(phr) | negs) if t not in prunable
            )
            decoded = self.blocks.filter(keep).count() + unpruned
        else:
            decoded = None
        self._last_wand_stats = {
            "total_blocks": total_blocks,
            "decoded_blocks": decoded,
            "theta": theta,
        }
        p2_frames = {t: leaf(t, p) for t, p in p2_pred.items()}
        return self._eval(ast, stats, p2_frames)

    # -- AST → (doc_id, score) DataFrame ---------------------------------
    def _eval(
        self,
        node: qp.Node,
        stats: Dict[str, Tuple[int, int]],
        leaf_frames: Optional[Dict[str, DataFrame]] = None,
    ) -> DataFrame:
        """:func:`eval_tree` over this index; ``leaf_frames`` are
        tree-WAND's block-restricted positive term leaves."""
        return eval_tree(
            node,
            lambda t: self._term_scores(t, stats.get(t, (0, 0))[0]),
            self._positions,
            lambda: self.docmeta.select("doc_id"),
            leaf_frames,
        )

    def _scores_topk_pruned(
        self,
        ast: qp.Node,
        stats: Dict[str, Tuple[int, int]],
        k: int,
        allowed: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Shape-dispatched top-k-valid scoring: single-term / flat-AND /
        flat-OR / mixed-tree each route to their block-max pruned plan
        when the posting lists are big enough; θ-based paths thread the
        ``allowed`` filter into phase 1 (filter-aware pruning). The
        flat-AND path is exact (no θ), so it needs no filter awareness —
        the caller's semi-join suffices."""
        and_terms = _flat_terms(ast, qp.And)
        nb = lambda t: self._n_blocks(stats.get(t, (0, 0))[0])
        if isinstance(ast, qp.Term):
            df = stats.get(ast.term, (0, 0))[0]
            if nb(ast.term) > self.cfg.wand_min_blocks:
                return self._term_scores_topk_pruned(ast.term, df, k, allowed)
            return self._term_scores(ast.term, df)
        if (
            and_terms is not None
            and len(and_terms) > 1
            and min(nb(t) for t in and_terms) <= 10_000
            and max(nb(t) for t in and_terms) > self.cfg.wand_min_blocks
        ):
            return self._and_scores_block_pruned(and_terms, stats)
        if (
            (or_terms := _flat_terms(ast, qp.Or)) is not None
            and len(or_terms) > 1
            and len(set(or_terms)) == len(or_terms)  # dup terms sum twice
            and max(nb(t) for t in or_terms) > self.cfg.wand_min_blocks
        ):
            return self._or_scores_block_pruned(or_terms, stats, k, allowed)
        # mixed boolean trees (AND/OR/NOT nesting): general tree-WAND;
        # None → shape not prunable → full eval
        tree = self._tree_scores_block_pruned(ast, stats, k, allowed)
        return tree if tree is not None else self._eval(ast, stats)

    def scores_df(self, query: str) -> DataFrame:
        """(doc_id, score) for every matching document."""
        ast = qp.parse(query)
        if ast is None:
            return self._local([], _SCORE_SCHEMA)
        stats = self.term_stats(qp.extract_terms(ast))
        return self._eval(ast, stats)

    # -- public API -------------------------------------------------------
    def search(
        self,
        query: str,
        k: Optional[int] = None,
        with_meta: bool = True,
        meta_filter=None,
    ) -> DataFrame:
        """Top-k ranked (doc_id, score[, url, title]) — V7/V8/V10.

        ``meta_filter`` (the reference report's "source-filter" query
        class, report/main.tex:1244-1263): an optional pyspark Column
        predicate over docmeta columns (lang, url, title, doc_len…)
        restricting the ranked universe, e.g.
        ``F.col("lang") == "ru"`` or ``F.col("url").startswith(…)``.
        Applied as a pushable filter on a doc_id-only docmeta scan
        semi-joined with the score set BEFORE top-k — never a post-hoc
        trim of k rows (which would under-fill). Filtered queries take
        the SAME block-max pruned paths as unfiltered ones (VERDICT r3
        #1): θ is computed from a phase 1 semi-joined with the allowed
        set, so it lower-bounds the k-th best filtered score and the
        phase-2 keep predicates stay sound."""
        k = top_k(k, self.cfg)
        t0 = time.time()
        ast = qp.parse(query)
        if ast is None or k == 0:
            out = self._local([], _SCORE_SCHEMA)
        else:
            allowed = None
            if meta_filter is not None:
                allowed = self.docmeta.filter(meta_filter).select("doc_id")
                self._last_meta_scan = allowed  # plan-shape tests
            stats = self.term_stats(qp.extract_terms(ast))
            scores = self._scores_topk_pruned(ast, stats, k, allowed)
            if allowed is not None:
                scores = scores.join(allowed, "doc_id", "leftsemi")
            out = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        if with_meta:
            out = self._enrich_hits(out)
        self.query_log.append({"query": query, "wall_ms": (time.time() - t0) * 1000})
        return out

    def _enrich_hits(self, out: DataFrame) -> DataFrame:
        """Attach (url, title) to a ≤k-row hit frame.

        Scale shape: collect the k hit rows (k ≤ tens — this is the
        result the caller collects anyway), push ``doc_id IN (…)`` into
        the docmeta scan so only matching row groups are read (the scan
        frame is kept on ``self._last_enrich_scan`` for plan
        inspection), and merge driver-side — ≤k rows on both sides, so
        the result is a local relation and the caller's collect is
        free. Never broadcasts or shuffles the corpus-sized docmeta
        table (at 10^12 docs a docmeta broadcast is a driver/executor
        OOM); total cost is the scores job plus one In-pruned metadata
        scan — or, with the directory loaded, the scores job alone."""
        hit_rows = out.collect()
        enriched = T.StructType(
            list(out.schema.fields)
            + [
                T.StructField("url", T.StringType(), True),
                T.StructField("title", T.StringType(), True),
            ]
        )
        if not hit_rows:
            return self._local([], enriched)
        if self.directory_loaded:
            lookup = self._hit_meta
        else:
            ids = [r["doc_id"] for r in hit_rows]
            meta = self.docmeta.filter(F.col("doc_id").isin(ids)).select(
                "doc_id", "url", "title"
            )
            self._last_enrich_scan = meta
            lookup = {r["doc_id"]: (r["url"], r["title"]) for r in meta.collect()}
        data = [
            tuple(r) + lookup.get(r["doc_id"], (None, None)) for r in hit_rows
        ]
        return self._local(data, enriched)

    def count(self, query: str) -> int:
        """Total matching docs (V9) — one plan, no re-evaluation (the
        reference re-runs the whole query for count, boolean_search.cpp:74)."""
        return self.scores_df(query).count()

    def search_batch(
        self,
        queries: List[str],
        k: Optional[int] = None,
        meta_filter=None,
    ) -> DataFrame:
        """V11: union of per-query top-k plans tagged with the query.
        Term stats for ALL queries prefetch in ONE dictionary scan
        (term_stats memoizes) and the θ-pruned paths' phase-1 block
        metadata prefetches in ONE windowed scan over all queries'
        terms (VERDICT r4 #5) — so a B-query batch issues ~B driver
        jobs (one phase-1 score collect per query) plus two prefetches,
        instead of ~2B. ``meta_filter`` restricts every query's ranked
        universe (same semantics as ``search``)."""
        k = top_k(k, self.cfg)
        all_terms: List[str] = []
        for q in queries:
            ast = qp.parse(q)
            if ast is not None:
                all_terms.extend(qp.extract_terms(ast))
        if all_terms:
            uniq = list(dict.fromkeys(all_terms))
            self.term_stats(uniq)
            self.prefetch_block_meta(uniq, k)
        parts = [
            self.search(q, k, with_meta=False, meta_filter=meta_filter)
            .withColumn("query", F.lit(q))
            for q in queries
        ]
        return reduce(DataFrame.unionByName, parts)

    # -- V12: prefix suggestions ----------------------------------------
    def suggest(self, prefix: str, n: int = 10) -> List[str]:
        """Prefix suggestions over the dictionary. The dictionary stage
        is term-range-partitioned/sorted at rest (build_dictionary), so
        the StringStartsWith predicate pushes into the parquet scan and
        prunes to the files/row groups whose term range covers the
        prefix (VERDICT r4 #6)."""
        scan = self.dictionary.filter(F.col("term").startswith(prefix))
        self._last_suggest_scan = scan  # plan-shape tests
        rows = scan.orderBy("term").limit(n).collect()
        return [r["term"] for r in rows]

    # -- V13: more-like-this ----------------------------------------------
    def more_like_this(self, doc_id: int, k: int = 10) -> DataFrame:
        """The top-k other docs by the BM25 sum over the source doc's
        distinct terms — a flat OR of them, scored like every other
        query. The term set comes from a ``doc_id``-pushed scan of the
        **docs** stage (sorted by doc_id at rest → parquet min/max
        row-group skipping) + tokenizing that ONE document driver-side
        (the build tokenized this same text, so the sets are identical by
        construction). The terms' idfs come from ``term_stats`` and the
        scores from the blocks view under a pushed ``term IN (...)``, so
        the plan is one blocks scan and one shuffle (the per-doc sum);
        the reference builds a giant OR query instead
        (boolean_search.cpp:242-281)."""
        from search_engine_spark.functions.tokenizer import tokenize_text

        doc_text = (
            self.store.read_stage(self.spark, "docs")
            .filter(F.col("doc_id") == doc_id)
            .select("text")
        )
        self._last_mlt_scan = doc_text
        text_rows = doc_text.collect()
        toks = tokenize_text(text_rows[0]["text"] or "", self.cfg) if text_rows else []
        stats = self.term_stats(sorted(set(toks)))
        idfs = {t: self.idf(df) for t, (df, _) in stats.items()}
        if not idfs:
            return self._local([], _SCORE_SCHEMA)
        scores = self._summed_scores(idfs).filter(F.col("doc_id") != doc_id)
        return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # -- V14: snippet generation ------------------------------------------
    def search_with_snippets(
        self,
        query: str,
        k: Optional[int] = None,
        context_words: int = 5,
        meta_filter=None,
    ) -> DataFrame:
        """Top-k with highlighted snippets (boolean_search.cpp:310-396):
        tokenize the hit's text, find the first query-term match, emit a
        ±context_words token window with ``[term]`` highlighting and
        ellipses. Runs only over the k hit rows (k is tiny), on the
        driver, against the docs stage's stored text; the result is a
        local relation in hit order."""
        from search_engine_spark.functions.tokenizer import tokenize_text

        ast = qp.parse(query)
        terms = set(qp.extract_terms(ast)) if ast is not None else set()
        hits = self.search(query, k, with_meta=True, meta_filter=meta_filter)
        # text lives in the docs stage only (docmeta is text-free — see
        # index_build.build_docmeta). Push doc_id IN (…) into the docs
        # parquet scan so only the k hits' row groups are read (the
        # naive hits-left-join would shuffle the whole text corpus for
        # k snippets), collect those ≤k text rows, and merge locally.
        hit_rows = hits.collect()
        ids = [r["doc_id"] for r in hit_rows]
        docs_text = (
            self.store.read_stage(self.spark, "docs")
            .filter(F.col("doc_id").isin(ids))
            .select("doc_id", "text")
        )
        self._last_snippet_scan = docs_text
        text_by_id = {r["doc_id"]: r["text"] for r in docs_text.collect()}

        def make_snippet(text: Optional[str]) -> str:
            toks = tokenize_text(text or "", self.cfg)
            # raw display tokens (whitespace split) aligned by best effort:
            # the reference re-tokenizes and highlights normalized tokens
            hit_at = next(
                (i for i, t in enumerate(toks) if t in terms), None
            )
            if hit_at is None:
                window = toks[: 2 * context_words + 1]
                lo_ell, hi_ell = False, len(toks) > len(window)
            else:
                lo = max(0, hit_at - context_words)
                hi = min(len(toks), hit_at + context_words + 1)
                window = toks[lo:hi]
                lo_ell, hi_ell = lo > 0, hi < len(toks)
            shown = [f"[{t}]" if t in terms else t for t in window]
            body = " ".join(shown)
            return ("... " if lo_ell else "") + body + (" ..." if hi_ell else "")

        out_schema = T.StructType(
            list(hits.schema.fields)
            + [T.StructField("snippet", T.StringType(), True)]
        )
        return self._local(
            [
                tuple(r) + (make_snippet(text_by_id.get(r["doc_id"])),)
                for r in hit_rows
            ],
            out_schema,
        )
