"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface (SURVEY.md §2) over
the driver's parquet tables; ``oracle_sql()`` gives the DuckDB-runnable
ANSI-SQL equivalent for every SQL-expressible operator. The `documents`
table plays the role of the web-page corpus: the engine ingests it as a
`pages`-shaped table (url = "doc://%09d" so the engine's deterministic
url-ordered doc_ids coincide with the original doc_id) and builds the
full inverted index (extract → tokenize → postings → dictionary →
compressed blocks) once per sf_dir, memoized + checkpoint-resumed.

Tokenizer note: `documents.text` is plain lowercase ASCII + spaces, so
the byte-exact tokenizer (functions/tokenizer.py) reduces to
whitespace-split with the 2..50-byte length bound — which is what the
oracle SQL's `_TOKS` CTE mirrors token-for-token.

Floats: every float column is rounded to 6 decimals on BOTH sides;
integer-exact aggregates are preferred wherever possible so value
hashes are stable across Spark/DuckDB double arithmetic.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig

# ---------------------------------------------------------------------------
# corpus + memoized index
# ---------------------------------------------------------------------------

ENTRY_CFG = EngineConfig(index_partitions=8)

_ENGINES: dict = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _as_pages(docs: DataFrame) -> DataFrame:
    """documents → the engine's input_hint schema (url, warc_ts, html,
    text, lang). Zero-padded urls make url-order == doc_id order, so the
    engine's deterministic dense ids equal the original doc_ids."""
    return docs.select(
        F.format_string("doc://%09d", F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def _engine(spark: SparkSession, sf_dir: str):
    """Build (or resume) the index for sf_dir once; return SearchEngine."""
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.query_eval import SearchEngine

    key = os.path.abspath(sf_dir)
    if key in _ENGINES:
        return _ENGINES[key]
    tag = hashlib.md5(
        (key + repr(sorted(ENTRY_CFG.to_dict().items()))).encode()
    ).hexdigest()[:12]
    idx_dir = os.path.join(tempfile.gettempdir(), f"se_graft_idx_{tag}")
    build_index(spark, _as_pages(_docs(spark, sf_dir)), idx_dir,
                cfg=ENTRY_CFG, resume=True)
    eng = SearchEngine(spark, idx_dir)
    _ENGINES[key] = eng
    return eng


def _orig_ids(eng, df: DataFrame) -> DataFrame:
    """Map engine doc_ids back to the documents table's doc_id via the
    docmeta url (robust even if id spaces ever diverge).

    Plain equi-join on doc_id — docmeta is corpus-sized, so it must
    never carry a broadcast hint (at 10^12 docs that OOMs the driver);
    AQE broadcasts whichever side is actually small at runtime."""
    m = eng.docmeta.select(
        F.col("doc_id"),
        F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("_orig"),
    )
    return (
        df.join(m, "doc_id")
        .drop("doc_id")
        .withColumnRenamed("_orig", "doc_id")
    )


def _r6(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 6))
    return df


_STREAMS: dict = {}


def _stream_indexer(spark: SparkSession, sf_dir: str):
    """Build (or reuse) a 3-wave incremental STREAMING index over the
    same pages table the batch engine indexes — the gate's proof that
    the Structured-Streaming path (segment append, cross-segment URL
    dedup, global df/avgdl bookkeeping) reproduces the batch engine's
    BM25 algebra bit-for-bit against the DuckDB oracle.

    Waves are deterministic ``doc_id % 3`` slices, each drained with an
    availableNow trigger → ≥3 on-disk segments, so the queries below
    really merge multi-segment postings (df, avgdl and NOT's doc
    universe all span segments). Streaming doc_ids follow ARRIVAL
    order, not url order — results are mapped back to the original
    doc_id via the docmeta url, and the gate queries return FULL result
    sets (no top-k cut), so nothing depends on the internal id order."""
    from search_engine_spark.streaming.incremental import IncrementalIndexer

    key = os.path.abspath(sf_dir)
    if key in _STREAMS:
        return _STREAMS[key]
    tag = hashlib.md5(
        (key + repr(sorted(ENTRY_CFG.to_dict().items())) + "|stream_v2").encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"se_graft_stream_{tag}")
    landing = os.path.join(root, "landing")
    idx = os.path.join(root, "idx")
    docs = _docs(spark, sf_dir)
    n_docs = docs.count()

    ixer = IncrementalIndexer(spark, idx, ENTRY_CFG)
    st = ixer._read_state()
    if not (st["segments"] and st["next_doc_id"] == n_docs):
        # stale or partial build (e.g. a crashed prior process) → rebuild
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(landing, exist_ok=True)
        ixer = IncrementalIndexer(spark, idx, ENTRY_CFG)
        for wave in range(3):
            _as_pages(docs.filter(F.col("doc_id") % 3 == wave)).coalesce(
                1
            ).write.mode("append").parquet(landing)
            ixer.start(landing).awaitTermination(600)
        st = ixer._read_state()
        if st["next_doc_id"] != n_docs:  # every unique url must ingest
            raise RuntimeError(
                f"stream ingest mismatch: {st['next_doc_id']} != {n_docs}"
            )
    _STREAMS[key] = ixer
    return ixer


def _stream_orig_ids(ixer, df: DataFrame) -> DataFrame:
    """Streaming analog of :func:`_orig_ids` — arrival-order stream ids
    → original doc_ids via the segment docmeta url."""
    m = ixer.docmeta().select(
        F.col("doc_id"),
        F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("_orig"),
    )
    return (
        df.join(m, "doc_id")
        .drop("doc_id")
        .withColumnRenamed("_orig", "doc_id")
    )


# ---------------------------------------------------------------------------
# oracle SQL building blocks
# ---------------------------------------------------------------------------

# token stream mirroring the byte-exact tokenizer on this corpus:
# whitespace split, ASCII lowercase, keep 2..50 bytes.
_TOKS = """
toks AS (
  SELECT doc_id, lower(w) AS term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE length(w) BETWEEN 2 AND 50
)
"""

# ordinal-position token stream (for phrase / proximity)
_OTOKS = """
raw AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
),
flat AS (
  SELECT doc_id, unnest(arr) AS w, unnest(range(1, len(arr)+1)) AS i FROM raw
),
otoks AS (
  SELECT doc_id, lower(w) AS term,
         row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
  FROM flat WHERE length(w) BETWEEN 2 AND 50
)
"""

# BM25 scaffolding: tf, per-doc length, collection stats, df
_BM25 = (
    "WITH " + _TOKS + """,
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
st AS (SELECT (SELECT count(*) FROM documents) AS n, avg(dl) AS avgdl FROM dl),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
score AS (
  SELECT t.doc_id, t.term,
         ln((st.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (t.tf / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / st.avgdl)))
           AS s
  FROM tf t JOIN dl l USING (doc_id) JOIN dft d USING (term) CROSS JOIN st
)
"""
)

# word 3-gram shingle table over ordinal tokens (dedup contract)
_SHINGLES = (
    "WITH " + _OTOKS + """,
sh AS (
  SELECT DISTINCT a.doc_id, a.term || ' ' || b.term || ' ' || c.term AS shingle
  FROM otoks a
  JOIN otoks b ON b.doc_id = a.doc_id AND b.rn = a.rn + 1
  JOIN otoks c ON c.doc_id = a.doc_id AND c.rn = a.rn + 2
),
shn AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)
"""
)

# Every exact shingle-Jaccard pair at t = 0.8 (a `pairs` CTE after
# _SHINGLES): the ground truth of every near-dup operator, since each
# engine verifies its candidates exactly and they differ only in how
# they generate candidates.
_PAIRS = """,
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b, i * 1.0 / (na.n_sh + nb.n_sh - i) AS jaccard
  FROM inter
  JOIN shn na ON na.doc_id = id_a
  JOIN shn nb ON nb.doc_id = id_b
  WHERE i * 1.0 / (na.n_sh + nb.n_sh - i) >= 0.8
)"""

_JACCARD_PAIRS = _SHINGLES + _PAIRS + """
SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM pairs
"""

def _simhash_word_sql(col: str) -> str:
    """SQL for one 32-bit simhash word over md5-half column ``col``:
    bit j set iff at least half the doc's shingle hashes set bit j
    (2*ones >= n — the engine kernel's tie rule)."""
    terms = [
        f"((CASE WHEN 2*sum(({col} >> {j}) & 1) >= count(*) "
        f"THEN 1 ELSE 0 END)::BIGINT << {j})"
        for j in range(32)
    ]
    return "\n   + ".join(terms)


# Bit-exact simhash oracle (round 4): reproduces the engine SIGNATURE
# (md5-half shingle hashes -> per-bit majority vote, two 32-bit words)
# and checks the engine's actual contract — hamming(sig_a, sig_b) <= k
# AND exact Jaccard >= t — instead of assuming the pigeonhole bands
# recall every >=t pair (they guarantee only hamming <= k; organic
# 0.87-0.92 pairs at sf0.1 exceeded it under the old opaque hash).
_SIMHASH_PAIRS = _SHINGLES + f""",
hx AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS hi,
         CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT) AS lo
  FROM sh
),
sig AS (
  SELECT doc_id,
         {_simhash_word_sql("lo")} AS w_lo,
         {_simhash_word_sql("hi")} AS w_hi
  FROM hx GROUP BY doc_id
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.w_lo, b.w_lo))
      + bit_count(xor(a.w_hi, b.w_hi)) <= 10
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i * 1.0 / (na.n_sh + nb.n_sh - i), 6) AS jaccard
FROM inter
JOIN shn na ON na.doc_id = id_a
JOIN shn nb ON nb.doc_id = id_b
WHERE i * 1.0 / (na.n_sh + nb.n_sh - i) >= 0.8
"""


# quality_features formula, mirrored ONCE (textstats.py) — shared by
# the quality gate and canonical_pick so the weights/targets live in
# exactly one SQL copy. Requires a `toks` CTE (_TOKS) in scope.
# qagg -> token aggregates, qbase -> feature ratios, q -> 6-dp score.
_QUALITY_CTES = """
qagg AS (
  SELECT doc_id, count(*) AS n_tokens, sum(length(term)) AS sum_len,
         count(DISTINCT term) AS n_distinct
  FROM toks GROUP BY doc_id
),
qbase AS (
  SELECT d.doc_id,
         length(d.text) AS n_chars,
         coalesce(a.n_tokens, 0) AS n_tokens,
         CASE WHEN coalesce(a.n_tokens, 0) > 0
              THEN a.sum_len * 1.0 / a.n_tokens ELSE 0.0 END AS avg_tok,
         CASE WHEN coalesce(a.n_tokens, 0) > 0
              THEN a.n_distinct * 1.0 / a.n_tokens ELSE 0.0 END AS distinct_ratio,
         CASE WHEN length(d.text) > 0
              THEN length(regexp_replace(d.text, '[^A-Za-z]', '', 'g'))
                   * 1.0 / length(d.text) ELSE 0.0 END AS alpha_ratio,
         CASE WHEN length(d.text) > 0
              THEN length(regexp_replace(d.text, '[^\\s]', '', 'g'))
                   * 1.0 / length(d.text) ELSE 0.0 END AS ws_ratio
  FROM documents d LEFT JOIN qagg a USING (doc_id)
),
q AS (
  SELECT doc_id, round(least(1.0,
    0.25 * greatest(0.0, 1.0 - abs(avg_tok - 5.5) / 5.5)
    + 0.25 * distinct_ratio + 0.25 * alpha_ratio
    + 0.25 * greatest(0.0, 1.0 - abs(ws_ratio - 0.17) / 0.17)), 6) AS q6
  FROM qbase
)
"""

# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------


def _q_term_freq(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return eng.dictionary.select("term", F.col("cf").cast("long").alias("freq"))


def _q_dictionary(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return eng.dictionary.select(
        "term", F.col("df").cast("long").alias("df"),
        F.col("cf").cast("long").alias("cf")
    )


def _q_doc_stats(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return _orig_ids(
        eng, eng.docmeta.select("doc_id", "doc_len", "unique_terms")
    ).select("doc_id", "doc_len", "unique_terms")


def _q_index_stats(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    d = eng.docmeta.agg(
        F.count("*").cast("long").alias("total_documents"),
        F.sum("doc_len").cast("long").alias("total_tokens"),
        F.avg("doc_len").alias("avgdl"),
    )
    t = eng.dictionary.agg(
        F.count("*").cast("long").alias("total_terms"),
        F.sum("df").cast("long").alias("total_postings"),
    )
    return _r6(d.crossJoin(t), "avgdl").select(
        "total_documents", "total_terms", "total_postings",
        "total_tokens", "avgdl"
    )


def _q_bm25_single(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    out = eng.search("join", k=10, with_meta=False)
    return _r6(_orig_ids(eng, out), "score").select("doc_id", "score")


def _q_bm25_and(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return _r6(_orig_ids(eng, eng.scores_df("join && fast")), "score").select(
        "doc_id", "score"
    )


def _q_bm25_or(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return _r6(_orig_ids(eng, eng.scores_df("slow || vector")), "score").select(
        "doc_id", "score"
    )


def _q_bool_not(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return _r6(_orig_ids(eng, eng.scores_df("join && !fast")), "score").select(
        "doc_id", "score"
    )


def _q_source_filter(spark, sf_dir):
    """Metadata-filtered top-k (reference "source-filter" query class,
    report/main.tex:1244-1263): rank only docs whose docmeta lang='de',
    the filter pushed into a doc_id-only docmeta scan."""
    eng = _engine(spark, sf_dir)
    out = eng.search(
        "join && fast", k=10, with_meta=False,
        meta_filter=F.col("lang") == "de",
    )
    return _r6(_orig_ids(eng, out), "score").select("doc_id", "score")


def _q_bool_complex(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    q = "(join && fast) || (slow && !vector)"
    return _r6(_orig_ids(eng, eng.scores_df(q)), "score").select(
        "doc_id", "score"
    )


def _q_phrase_scored(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return _r6(_orig_ids(eng, eng.scores_df('"table scan"')), "score").select(
        "doc_id", "score"
    )


def _q_phrase(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return _orig_ids(
        eng, eng.scores_df('"table scan"').select("doc_id", "score")
    ).select("doc_id")


def _q_proximity(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return _orig_ids(
        eng, eng.scores_df('"key value"/3').select("doc_id", "score")
    ).select("doc_id")


def _q_batch_search(spark, sf_dir):
    """V11: one unioned plan of per-query top-k results tagged with the
    query string."""
    eng = _engine(spark, sf_dir)
    out = eng.search_batch(["join", "fast"], k=5)
    return _r6(_orig_ids(eng, out), "score").select("doc_id", "score", "query")


def _q_stream_bm25(spark, sf_dir):
    """Streaming boolean BM25 over a 3-segment incremental index: the
    full `join && slow` result set must hash-match the same batch
    oracle the batch engine answers — global df/avgdl across segments,
    AND sums its children, engine ids mapped back via docmeta url."""
    ix = _stream_indexer(spark, sf_dir)
    out = ix.search_query("join && slow", k=(1 << 31) - 1)
    return _r6(_stream_orig_ids(ix, out), "score").select("doc_id", "score")


def _q_stream_phrase(spark, sf_dir):
    """Streaming phrase query over the segments' positions columns —
    same contract (and same oracle SQL) as the batch `phrase_scored`:
    consecutive token ordinals, scored as the sum of the member terms'
    BM25 contributions."""
    ix = _stream_indexer(spark, sf_dir)
    out = ix.search_query('"table scan"', k=(1 << 31) - 1)
    return _r6(_stream_orig_ids(ix, out), "score").select("doc_id", "score")


def _q_match_counts(spark, sf_dir):
    """V9: total matching doc counts per query (single evaluation, no
    re-run — the reference re-evaluates the whole AST for count)."""
    eng = _engine(spark, sf_dir)
    rows = [
        (q, eng.count(q))
        for q in ["join", "join && fast", "slow || vector", "join && !fast"]
    ]
    return spark.createDataFrame(rows, "query string, n long")


def _q_suggest(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return (
        eng.dictionary.filter(F.col("term").startswith("s"))
        .orderBy("term")
        .limit(10)
        .select("term")
    )


def _q_mlt(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    return _r6(_orig_ids(eng, eng.more_like_this(0, 10)), "score").select(
        "doc_id", "score"
    )


def _q_snippets(spark, sf_dir):
    """V14: top-k with highlighted snippets — ±5-token window around
    the first query-term hit, [term] highlighting, ellipses on clipped
    sides (boolean_search.cpp:310-396). The oracle rebuilds the window
    with DuckDB list lambdas over the same whitespace token stream."""
    eng = _engine(spark, sf_dir)
    out = eng.search_with_snippets("join", k=10)
    return _r6(_orig_ids(eng, out), "score").select(
        "doc_id", "score", "snippet"
    )


def _q_zipf_rank(spark, sf_dir):
    from search_engine_spark.operators.analytics import zipf_rank_table

    eng = _engine(spark, sf_dir)
    freqs = eng.dictionary.select("term", F.col("cf").cast("long").alias("freq"))
    return zipf_rank_table(freqs, n_terms=eng.n_terms).limit(100)


def _q_zipf_fit(spark, sf_dir):
    from search_engine_spark.operators.analytics import zipf_fit, zipf_rank_table

    eng = _engine(spark, sf_dir)
    freqs = eng.dictionary.select("term", F.col("cf").cast("long").alias("freq"))
    return _r6(zipf_fit(zipf_rank_table(freqs, n_terms=eng.n_terms)),
               "c", "s", "r2")


def _q_dist_stats(spark, sf_dir):
    """Z5: one-row term-frequency distribution summary over the
    dictionary's collection frequencies."""
    from search_engine_spark.operators.analytics import distribution_stats

    eng = _engine(spark, sf_dir)
    freqs = eng.dictionary.select(
        "term", F.col("cf").cast("long").alias("freq")
    )
    return _r6(distribution_stats(freqs),
               "mean_freq", "median_freq", "std_freq")


def _q_zipf_mandelbrot(spark, sf_dir):
    """Z9: Zipf–Mandelbrot expected frequencies total/(rank+b)^a at
    fixed (a=1.0, b=2.7) — the total is the FULL collection token
    count; output restricted to the top 50 ranks."""
    from search_engine_spark.operators.analytics import (
        zipf_mandelbrot_expected,
        zipf_rank_table,
    )

    eng = _engine(spark, sf_dir)
    freqs = eng.dictionary.select(
        "term", F.col("cf").cast("long").alias("freq")
    )
    ranked = zipf_rank_table(freqs, n_terms=eng.n_terms)
    out = zipf_mandelbrot_expected(ranked, a=1.0, b=2.7).where(
        F.col("rank") <= 50
    )
    return _r6(out, "expected_freq")


def _q_entropy(spark, sf_dir):
    from search_engine_spark.operators.analytics import entropy

    eng = _engine(spark, sf_dir)
    freqs = eng.dictionary.select("term", F.col("cf").cast("long").alias("freq"))
    return _r6(entropy(freqs), "entropy")


def _q_gini(spark, sf_dir):
    from search_engine_spark.operators.analytics import gini

    eng = _engine(spark, sf_dir)
    freqs = eng.dictionary.select("term", F.col("cf").cast("long").alias("freq"))
    return _r6(gini(freqs), "gini")


def _q_coverage(spark, sf_dir):
    from search_engine_spark.operators.analytics import coverage, zipf_rank_table

    eng = _engine(spark, sf_dir)
    freqs = eng.dictionary.select("term", F.col("cf").cast("long").alias("freq"))
    return _r6(coverage(zipf_rank_table(freqs, n_terms=eng.n_terms)),
               "top10_coverage", "top100_coverage")


def _q_lang_stats(spark, sf_dir):
    from search_engine_spark.operators.analytics import per_group_stats

    return _r6(per_group_stats(_docs(spark, sf_dir), "lang"), "avg_chars")


def _q_dedup_exact(spark, sf_dir):
    from search_engine_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def _q_dedup_span(spark, sf_dir):
    """Chunked exact-substring dedup (Lee et al. 2021 at span
    granularity): duplicate 10-token spans are dropped corpus-wide,
    first writer (doc_id, span_no) wins — dedup.span_dedup."""
    from search_engine_spark.operators.dedup import span_dedup

    return span_dedup(_docs(spark, sf_dir), w=10).select(
        "doc_id", "n_spans", "n_kept",
        F.md5("clean_text").alias("clean_md5"),
    )


def _q_dedup_ngram(spark, sf_dir):
    from search_engine_spark.operators.dedup import ngram_jaccard_pairs

    return _r6(
        ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.8), "jaccard"
    )


def _q_dedup_minhash(spark, sf_dir):
    from search_engine_spark.operators.dedup import minhash_lsh_pairs

    return _r6(
        minhash_lsh_pairs(_docs(spark, sf_dir), n=3, threshold=0.8), "jaccard"
    )


def _q_dedup_simhash(spark, sf_dir):
    from search_engine_spark.operators.dedup import simhash_pairs

    return _r6(
        simhash_pairs(_docs(spark, sf_dir), n=3, hamming_k=10,
                      jaccard_threshold=0.8),
        "jaccard",
    )


def _q_dup_components(spark, sf_dir):
    """Near-dup clusters as connected components over exact-Jaccard
    pairs; component id = min doc_id (the canonical doc). Singletons
    map to themselves — the full-corpus canonicalization a training
    pipeline needs (keep one doc per component)."""
    from search_engine_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    comp = connected_components(pairs, nodes=docs.select("doc_id"))
    return comp.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


def _q_embed_top_pairs(spark, sf_dir):
    from search_engine_spark.operators.dedup import embedding_pairs_exact

    return _r6(
        embedding_pairs_exact(_emb(spark, sf_dir), top_pairs=10), "cos"
    )


def _query_vec(spark, sf_dir, vec_id: int = 0):
    row = (
        _emb(spark, sf_dir).filter(F.col("vec_id") == vec_id).first()
    )
    return list(row["embedding"])


def _q_ann_brute(spark, sf_dir):
    from search_engine_spark.operators.similarity import cosine_topk

    q = _query_vec(spark, sf_dir, 0)
    return _r6(
        cosine_topk(_emb(spark, sf_dir), q, k=10, exclude_id=0), "cos"
    )


def _q_ann_batch(spark, sf_dir):
    """Batched exact top-k: 5 query vectors scored in ONE corpus pass
    (per-batch matmul + local top-k) — similarity.cosine_topk_batch."""
    from search_engine_spark.operators.similarity import cosine_topk_batch

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return _r6(
        cosine_topk_batch(emb, queries, k=10, exclude_self=True), "cos"
    )


def _planted_emb(spark, sf_dir):
    """Embeddings plus 20 deterministic planted near-neighbors of the
    vec_id-0 query: planted_i = q + 0.15·e_i elementwise (vec_id
    1000001..1000020, cos≈0.989 to q). Pure double arithmetic, mirrored
    exactly by list_transform in the oracle SQL — the raw table has no
    high-cos pairs (max 0.51), so production-parameter LSH (12 planes,
    hamming-1 probe) could never match a brute-force top-10 over it
    (VERDICT r2 #2)."""
    emb = _emb(spark, sf_dir)
    q = _query_vec(spark, sf_dir, 0)
    qcol = F.array(*[F.lit(float(x)) for x in q])
    planted = (
        emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= 20))
        .select(
            (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
            F.zip_with(
                qcol,
                F.col("embedding").cast("array<double>"),
                lambda a, b: a + F.lit(0.15) * b,
            ).alias("embedding"),
        )
    )
    allv = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(planted)
    return allv, q


def _q_ann_lsh(spark, sf_dir):
    from search_engine_spark.operators.similarity import LshIndex

    # Production parameters (VERDICT r2 #2): 12 planes × 8 tables,
    # hamming-1 multiprobe — 13/4096 cells per table. The planted
    # sidecar gives the query real ≥0.98-cos neighbors so the pruned
    # scan still matches the brute-force oracle; the candidate-fraction
    # assertion is the "this is not a full scan in disguise" guarantee.
    allv, q = _planted_emb(spark, sf_dir)
    idx = LshIndex(allv, planes=12, tables=8)
    out = _r6(
        idx.query(q, k=10, probe_hamming=1, exclude_id=0,
                  count_candidates=True),
        "cos",
    )
    n = allv.count()
    assert idx.last_candidate_count / n <= 0.1, (
        f"LSH probed {idx.last_candidate_count}/{n} vectors — not pruning"
    )
    return out


def _q_ann_ivf(spark, sf_dir):
    from search_engine_spark.operators.similarity import IvfIndex

    # Same planted sidecar as ann_lsh: the query's true top-10 are its
    # ≥0.98-cos planted neighbors, which kmeans puts in the query's own
    # cell(s), so a 4-of-16-cell probe recovers the exact brute-force
    # top-10 over the union — giving IVF a real value oracle while the
    # candidate-fraction assertion proves it is still pruning.
    allv, q = _planted_emb(spark, sf_dir)
    idx = IvfIndex(allv, n_centroids=16)
    out = _r6(
        idx.query(q, k=10, nprobe=4, exclude_id=0, count_candidates=True),
        "cos",
    )
    n = allv.count()
    assert idx.last_candidate_count / n <= 0.5, (
        f"IVF probed {idx.last_candidate_count}/{n} vectors — not pruning"
    )
    return out


def _q_lang_id(spark, sf_dir):
    from search_engine_spark.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


def _q_quality(spark, sf_dir):
    from search_engine_spark.operators.textstats import quality_features

    out = quality_features(_docs(spark, sf_dir))
    return _r6(
        out.select("doc_id", "q_n_chars", "q_n_tokens", "q_avg_token_len",
                   "q_distinct_ratio", "quality_score"),
        "q_avg_token_len", "q_distinct_ratio", "quality_score",
    )


def _q_token_count(spark, sf_dir):
    from search_engine_spark.operators.textstats import token_counts

    return token_counts(_docs(spark, sf_dir)).select(
        "doc_id", "n_ws_tokens", "n_bpe_pieces"
    )


def _q_fingerprint(spark, sf_dir):
    from search_engine_spark.operators.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


def _q_mm_meta(spark, sf_dir):
    from search_engine_spark.operators.multimodal import media_metadata

    payloads = _docs(spark, sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return media_metadata(payloads).select("doc_id", "n_bytes", "sha256")


def _q_mm_image_real(spark, sf_dir):
    """REAL image decode under the gate: each doc ≥64 chars becomes a
    valid binary-PGM (P5) payload whose 8×8 pixels are the first 64
    text bytes; decode_image_features(decoder="netpbm") must recover
    the exact byte-mean luma (oracle: ascii() arithmetic — the corpus
    text is pure ASCII)."""
    from search_engine_spark.operators.multimodal import (
        decode_image_features,
    )

    docs = _docs(spark, sf_dir).filter(F.length("text") >= 64)
    payloads = docs.select(
        "doc_id",
        F.concat(
            F.lit(bytearray(b"P5 8 8 255\n")),
            F.substring(F.encode("text", "utf-8"), 1, 64),
        ).alias("payload"),
    )
    out = decode_image_features(payloads, decoder="netpbm", side=8)
    return _r6(
        out.select("doc_id", "width", "height", "mean_luma"), "mean_luma"
    )


def _q_mm_audio_real(spark, sf_dir):
    """REAL audio decode under the gate: each doc ≥64 chars becomes a
    valid 8-bit PCM mono WAV (constant 44-byte header for 64 samples
    at 8 kHz) whose samples are the first 64 text bytes;
    decode_audio_features must recover the exact RMS and zero-crossing
    rate the oracle computes from ascii() arithmetic."""
    import struct

    from search_engine_spark.operators.multimodal import (
        decode_audio_features,
    )

    header = (
        b"RIFF" + struct.pack("<I", 36 + 64) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", 64)
    )
    docs = _docs(spark, sf_dir).filter(F.length("text") >= 64)
    payloads = docs.select(
        "doc_id",
        F.concat(
            F.lit(bytearray(header)),
            F.substring(F.encode("text", "utf-8"), 1, 64),
        ).alias("payload"),
    )
    out = decode_audio_features(payloads)
    return _r6(
        out.select("doc_id", "sample_rate", "n_channels", "n_samples",
                   "rms", "zero_cross_rate"),
        "rms", "zero_cross_rate",
    )


def _q_scrub_pii(spark, sf_dir):
    """PII redaction must actually fire: every 7th doc gets a planted
    email + phone appended, then textstats.scrub_pii redacts; the
    oracle plants and redacts identically in SQL."""
    from search_engine_spark.operators.textstats import scrub_pii

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(7)) == 0,
            F.concat(
                F.col("text"),
                F.lit(" mail bob.smith+x@mail.example.org tel +1 (415) 555-0133 end"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return scrub_pii(docs).select(
        "doc_id", F.md5("text").alias("text_md5")
    )


def _q_repetition(spark, sf_dir):
    """Gopher-style repetition signals (word-bigram top share and
    diversity) — textstats.repetition_stats."""
    from search_engine_spark.operators.textstats import repetition_stats

    return _r6(
        repetition_stats(_docs(spark, sf_dir), n=2),
        "top_ngram_ratio", "distinct_ngram_ratio",
    )


def _q_sample_hash(spark, sf_dir):
    """Deterministic 10% held-out slice: md5-bucket predicate, exactly
    reproducible in any engine (pipeline.hash_sample)."""
    from search_engine_spark.operators.pipeline import hash_sample

    return hash_sample(_docs(spark, sf_dir), rate=0.1).select(
        "doc_id", "lang", "source"
    )


def _q_cap_per_source(spark, sf_dir):
    """Frequency capping: at most 10 docs per source (the corpus has
    25/source, so the cap demonstrably bites), lowest doc_ids win
    (pipeline.cap_per_group)."""
    from search_engine_spark.operators.pipeline import cap_per_group

    return cap_per_group(
        _docs(spark, sf_dir), "source", 10
    ).select("doc_id", "source")


def _q_mix_sources(spark, sf_dir):
    """Data-mixture weighting: src0 kept at 80%, src1 at 30%, src2
    dropped, everything else at 100% — pipeline.mix_sources' portable
    md5-bucket predicate (same rule as sample_hash)."""
    from search_engine_spark.operators.pipeline import mix_sources

    return mix_sources(
        _docs(spark, sf_dir),
        weights={"src0": 0.8, "src1": 0.3, "src2": 0.0},
        group_col="source",
    ).select("doc_id", "source")


def _q_canonical_pick(spark, sf_dir):
    """Quality-aware canonicalization: one representative per near-dup
    cluster, highest quality_score wins (6-dp, doc_id tiebreak) —
    pipeline.canonicalize_by_quality over the exact-Jaccard pair
    list."""
    from search_engine_spark.operators.dedup import ngram_jaccard_pairs
    from search_engine_spark.operators.pipeline import canonicalize_by_quality

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return canonicalize_by_quality(docs, pairs)


def _q_shuffle_rank(spark, sf_dir):
    """Reproducible training-order shuffle: dense rank by
    md5(seed:doc_id) — pipeline.deterministic_shuffle (two-pass
    ordinal, no single-partition window)."""
    from search_engine_spark.operators.pipeline import deterministic_shuffle

    return deterministic_shuffle(_docs(spark, sf_dir), seed=42)


def _q_pack_seqs(spark, sf_dir):
    """Sequence packing: docs laid end-to-end in doc_id order, cut
    every 100 tokens — pipeline.pack_sequences (two-pass distributed
    prefix sum, no single-partition window)."""
    from search_engine_spark.operators.pipeline import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), max_tokens=100)


def _q_pack_rows(spark, sf_dir):
    """Exploded sequence packing (one row per (sequence, document)
    slice): pipeline.pack_rows — every full sequence holds exactly
    max_tokens tokens; a doc ending exactly on a boundary emits no
    empty extra row (ADVICE r3 end-bound rule)."""
    from search_engine_spark.operators.pipeline import pack_rows

    return pack_rows(_docs(spark, sf_dir), max_tokens=100)


def _q_curate(spark, sf_dir):
    from search_engine_spark.operators.pipeline import curate

    out, _ = curate(
        _docs(spark, sf_dir), near_dup_threshold=0.8, use_lsh=True,
        with_report=False,
    )
    return out.select("doc_id")


def _q_curate_embed(spark, sf_dir):
    """Full curation incl. the semantic near-dup stage: embeddings are
    doc_id-keyed (vec_id == doc_id at every sf), cosine ≥ 0.45 drops
    the higher id among survivors of the text stages."""
    from search_engine_spark.operators.pipeline import curate

    out, _ = curate(
        _docs(spark, sf_dir), near_dup_threshold=0.8, use_lsh=True,
        with_report=False,
        embeddings=_emb(spark, sf_dir), embed_cos_threshold=0.45,
    )
    return out.select("doc_id")


def _q_decontam(spark, sf_dir):
    """Benchmark decontamination: every 50th doc's text plays the eval
    set; docs sharing any word 8-gram with it are dropped (includes the
    planted near-dup twins of benchmark docs)."""
    from search_engine_spark.operators.pipeline import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0).select("text")
    clean, _ = decontaminate(docs, bench, n=8)
    return clean.select("doc_id")


def _q_parse_sources(spark, sf_dir):
    """E4–E10 through the real dispatch path: wrap each document's text
    in a deterministic per-source HTML template (doc_id % 4 → wikipedia
    / habr / stackoverflow / generic), run the parser dispatch, and
    emit closed-form-checkable columns. The oracle mirrors the
    templates' known structure in SQL."""
    from search_engine_spark.functions.source_parsers import (
        PARSE_SCHEMA,
        parse_pages_map,
    )

    d = _docs(spark, sf_dir)
    mod = F.pmod(F.col("doc_id"), F.lit(4))
    url = (
        F.when(mod == 0, F.format_string(
            "https://en.wikipedia.org/wiki/Doc%d", "doc_id"))
        .when(mod == 1, F.format_string(
            "https://habr.com/ru/articles/%d/", "doc_id"))
        .when(mod == 2, F.format_string(
            "https://stackoverflow.com/questions/%d", "doc_id"))
        .otherwise(F.format_string("https://plain.example/doc/%d", "doc_id"))
    )
    head = F.format_string(
        '<head><title>Doc %d</title>'
        '<meta name="description" content="d%d">'
        '<meta property="og:type" content="article"></head>',
        "doc_id", "doc_id",
    )
    body = (
        F.when(mod == 0, F.format_string(
            '<h1 class="firstHeading">Doc %d — Википедия</h1>'
            '<div id="mw-content-text"><div class="navbox">drop</div>'
            '<p>%s</p><a href="/wiki/A">a</a><a href="/wiki/B">b</a>'
            '<a href="/wiki/File:C">c</a></div>',
            "doc_id", "text"))
        .when(mod == 1, F.format_string(
            '<h1 class="tm-title">Doc %d</h1>'
            '<div class="tm-article-body">'
            '<div class="tm-article-poll">poll</div>%s'
            '<a href="/articles/1/">l</a></div>',
            "doc_id", "text"))
        .when(mod == 2, F.format_string(
            '<h1 itemprop="name">Doc %d</h1>'
            '<div class="s-prose">%s</div>'
            '<div class="answer"><div class="s-prose">first answer</div></div>'
            '<div class="answer"><div class="s-prose">second answer</div></div>',
            "doc_id", "text"))
        .otherwise(F.format_string(
            '<h1>Doc %d</h1><main><p>%s</p></main><a href="/x">l</a>',
            "doc_id", "text"))
    )
    html = F.encode(
        F.concat(F.lit("<html>"), head, F.lit("<body>"), body,
                 F.lit("</body></html>")),
        "utf-8",
    )
    pages = d.select(url.alias("url"), html.alias("html"))
    parsed = pages.mapInPandas(parse_pages_map, schema=PARSE_SCHEMA)
    return parsed.select(
        F.regexp_extract("url", r"(\d+)/?$", 1).cast("long").alias("doc_id"),
        "source",
        "title",
        "content",
        F.col("language").alias("lang_tag"),
        F.size("links").cast("long").alias("n_links"),
        "meta_description",
        F.size("metadata").cast("long").alias("n_meta"),
    )


def _q_alt_simple_tokens(spark, sf_dir):
    """T8a alternate tokenizer (simple_python_search.py:33-39): per-doc
    distinct \\w+ token-set size."""
    from search_engine_spark.operators.textstats import simple_regex_tokens

    out = simple_regex_tokens(_docs(spark, sf_dir))
    return out.select(
        F.col("id").alias("doc_id"),
        F.size("terms").cast("long").alias("n_simple"),
    )


def _q_alt_zipf_freq(spark, sf_dir):
    """T8b alternate tokenizer (zipf_analyzer.py:63-71): top-30 term
    frequencies under the Zipf module's sloppier tokenization."""
    from search_engine_spark.operators.textstats import zipf_alt_tokens

    return (
        zipf_alt_tokens(_docs(spark, sf_dir))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(30)
    )


def _q_url_norm(spark, sf_dir):
    """E12 through the JVM column path: messy deterministic urls
    (uppercase scheme/host/path, fragments, missing scheme) normalize
    to a closed form the oracle states directly."""
    from search_engine_spark.functions.source_parsers import normalize_url_col

    d = _docs(spark, sf_dir)
    raw = F.when(
        F.pmod(F.col("doc_id"), F.lit(2)) == 0,
        F.format_string("HTTP://Example.COM/Wiki/Doc%d#Section", "doc_id"),
    ).otherwise(F.format_string("Example.COM/Wiki/Doc%d", "doc_id"))
    return d.select(
        "doc_id", normalize_url_col(raw).alias("norm_url")
    )


def _q_regex_search(spark, sf_dir):
    from search_engine_spark.operators.exports import regex_search

    return regex_search(
        _docs(spark, sf_dir), "join (the|a|big) ", not_pattern="dup"
    ).select("doc_id")


def _q_regex_bool(spark, sf_dir):
    """Composed V16: AND list of regex conditions with an embedded NOT
    (simple_python_search.py grammar; VERDICT r2 #7)."""
    from search_engine_spark.operators.exports import regex_search_query

    # \s instead of a literal trailing space: the grammar strips each
    # condition token (reference parse_query does the same)
    return regex_search_query(
        _docs(spark, sf_dir), r"join (the|a|big)\s && fast && !vector"
    ).select("doc_id")


def _q_index_valid(spark, sf_dir):
    from search_engine_spark.operators.index_build import validate_index

    eng = _engine(spark, sf_dir)
    rep = validate_index(eng.store, spark)
    return spark.createDataFrame(
        [(
            rep["ok"],
            rep["orphan_posting_docs"],
            rep["dictionary_df_mismatches"],
            rep["block_doc_count_mismatches"],
            rep["bad_block_ranges"],
        )],
        "ok boolean, orphans long, df_mismatches long, "
        "block_mismatches long, bad_ranges long",
    )


def _q_vocab_growth(spark, sf_dir):
    from search_engine_spark.operators.analytics import vocabulary_growth

    return vocabulary_growth(_docs(spark, sf_dir), points=50)


def _q_events_latest(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        _events(spark, sf_dir)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def _q_events_sessions(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; the ntz→ltz cast applies the session tz as a
    # constant offset, which cancels in the gap differences below.
    ev = _events(spark, sf_dir).withColumn(
        "_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    gap = F.col("_us") - F.lag("_us").over(w)
    new_s = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    return (
        ev.withColumn("_new", new_s)
        .groupBy("user_id")
        .agg(F.sum("_new").cast("long").alias("n_sessions"),
             F.count("*").cast("long").alias("n_events"))
    )


def _q_tpch_revenue(spark, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        )
        .select("nation", "n_orders", F.col("revenue").cast("string").alias("revenue"))
    )


def _md5_long(col) -> "F.Column":
    """First 8 md5 hex chars as a non-negative int64 — the repo's
    engine/oracle-shared hash idiom (DuckDB: ('0x'||substr(md5 ..))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


_COMPACTED: dict = {}


def _q_stream_compact(spark, sf_dir):
    """Streaming→batch compaction: compact() merges the incremental
    index's segments into a full batch IndexStore (dictionary +
    compressed block-max blocks rebuilt from the streamed postings),
    and the BATCH SearchEngine answers over it — the result must equal
    the same DuckDB oracle as a batch-built index would produce. Pins
    the whole segment-merge path, not just segment-union search."""
    from search_engine_spark.operators.query_eval import SearchEngine

    ix = _stream_indexer(spark, sf_dir)
    key = os.path.abspath(sf_dir)
    if key not in _COMPACTED:
        out = os.path.join(os.path.dirname(ix.dir), "compacted")
        if not os.path.exists(os.path.join(out, "meta.json")):
            import shutil

            shutil.rmtree(out, ignore_errors=True)
            ix.compact(out)
        _COMPACTED[key] = out
    eng = SearchEngine(spark, _COMPACTED[key])
    df = eng.scores_df("vector || slow")
    return _r6(_orig_ids(eng, df), "score").select("doc_id", "score")


def _q_category_seeds(spark, sf_dir):
    """S1: the category seed scan (operators/crawl.
    wikipedia_category_seeds; reference crawler.py:139-218) over a
    synthetic (url, category) membership table: every doc belongs to
    cat<id%7> and to subcategory sub<id%17>; docs with id%3==0 link
    Category:sub<id%17> under cat<id%7>. Probing cat0 exercises the
    whole contract — direct members ∪ members of the first 10
    lexically-ordered subcategories (>10 exist, so the reference's
    10-subcat cap bites), Category: rows excluded from the output."""
    from search_engine_spark.operators.crawl import wikipedia_category_seeds

    d = _docs(spark, sf_dir).select("doc_id")
    url = F.format_string("doc://%09d", "doc_id")
    cat = F.concat(F.lit("cat"), (F.col("doc_id") % 7).cast("string"))
    sub = F.concat(F.lit("sub"), (F.col("doc_id") % 17).cast("string"))
    membership = (
        d.select(url.alias("url"), cat.alias("category"))
        .unionByName(d.select(url.alias("url"), sub.alias("category")))
        .unionByName(
            d.where(F.col("doc_id") % 3 == 0).select(
                F.concat(F.lit("Category:"), sub).alias("url"),
                cat.alias("category"),
            )
        )
    )
    return wikipedia_category_seeds(membership, "cat0")


def _q_crawl_pages(spark, sf_dir):
    """S2 end-to-end: the FULL wave-at-a-time crawl() loop
    (operators/crawl.crawl; reference universal_crawler.py:132-224) —
    robots gate, store fetch, E1-E10 parse, min-length gate with
    link-dropping, BFS frontier — over a synthetic store whose every
    ingredient is md5-arithmetic shared with the DuckDB oracle.

    Store: doc i lives at http://w.example.org/<h>/doc<i> (h = one md5
    hex char of 'p:<i>'), generic-template html wrapping the document
    text, with two site-relative links to (i*37+11) mod N and an
    md5-derived target (the crawl_reach graph). Robots: one domain
    whose body exercises the reference parser's quirks (Allow ignored,
    empty Disallow dropped, consecutive User-agent reset) and
    effectively disallows two hex path prefixes. Pages shorter than
    200 chars fail the min-length gate AND drop their links
    (universal_crawler.py:196-200). Output = (doc_id, BFS depth,
    extracted content length) for every collected page — the oracle
    replays the gated BFS as a recursive CTE."""
    import hashlib as _hl

    from search_engine_spark.operators.crawl import crawl

    d = _docs(spark, sf_dir).select("doc_id", "text")
    n = d.count()
    i = F.col("doc_id")

    def _pref(c):
        return F.substring(
            F.md5(F.concat(F.lit("p:"), c.cast("string"))), 1, 1
        )

    def _url(c):
        return F.concat(F.lit("http://w.example.org/"), _pref(c),
                        F.lit("/doc"), c.cast("string"))

    dst1 = (i * 37 + 11) % n
    dst2 = _md5_long(F.concat(F.lit("e:"), i.cast("string"))) % n
    html = F.encode(
        F.concat(
            F.lit("<html><head><title>x</title></head><body><h1>Doc "),
            i.cast("string"),
            F.lit("</h1><main><p>"), F.col("text"), F.lit("</p></main>"),
            F.lit('<a href="/'), _pref(dst1), F.lit("/doc"),
            dst1.cast("string"),
            F.lit('">l</a><a href="/'), _pref(dst2), F.lit("/doc"),
            dst2.cast("string"),
            F.lit('">m</a></body></html>'),
        ),
        "utf-8",
    )
    store = d.select(_url(i).alias("url"), html.alias("html"))
    c1 = _hl.md5(b"cr1:w").hexdigest()[0]
    c2 = _hl.md5(b"cr2:w").hexdigest()[0]
    body = (
        f"User-agent: *\nDisallow: /{c1}\nAllow: /zzz\nDisallow:\n\n"
        f"User-agent: badbot\nUser-agent: searchenginebot\n"
        f"Disallow: /{c2}\n"
    )
    robots = spark.createDataFrame(
        [("w.example.org", body)], "domain string, robots_txt string"
    )
    seeds = d.where(i % 89 == 0).select(_url(i).alias("url"))
    pages, _ = crawl(store, seeds, robots=robots, max_depth=3,
                     min_article_length=200)
    return pages.select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"),
        F.col("depth").cast("int").alias("depth"),
        F.length("content").cast("int").alias("content_len"),
    )


def _q_crawl_reach(spark, sf_dir):
    """S1/S4-adjacent crawl surface: bounded-depth BFS reachability
    (operators/crawl.crawl_frontier — the distributed form of
    url_manager.py:87-152's deque loop) over a deterministic synthetic
    link graph: each doc i links to (i*37+11) mod N and to an
    md5-derived pseudo-random target. Seeds = doc_id % 97 == 0,
    max_depth = 4; output = (url, min BFS depth)."""
    from search_engine_spark.operators.crawl import crawl_frontier

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    url = F.format_string("doc://%09d", F.col("doc_id"))
    e1 = docs.select(
        url.alias("src"),
        F.format_string(
            "doc://%09d", (F.col("doc_id") * 37 + 11) % n
        ).alias("dst"),
    )
    e2 = docs.select(
        url.alias("src"),
        F.format_string(
            "doc://%09d",
            _md5_long(
                F.concat(F.lit("e:"), F.col("doc_id").cast("string"))
            ) % n,
        ).alias("dst"),
    )
    seeds = docs.where(F.col("doc_id") % 97 == 0).select(url.alias("url"))
    out, _ = crawl_frontier(
        e1.unionByName(e2), seeds, max_depth=4, normalize=False
    )
    return out


def _q_robots_allow(spark, sf_dir):
    """S3: per-domain robots.txt applied distributively
    (operators/crawl.robots_filter; semantics robots_parser.py:57-144).
    Pages live at https://{source}.example.org/{h2}/doc{id} (h2 = two
    md5 hex chars); each domain's robots body is synthesized from the
    source name and exercises the reference parser's quirks — BadBot's
    'Disallow: /' (dropped), an Allow line (ignored), an empty
    Disallow, a bare 'Disallow: /' in the * group (dropped), and a
    consecutive-User-agent reset (the /h4 rule belongs to zbot only).
    The effective disallow set for SearchEngineBot is {/h1 (from *),
    /h2' (agent group)}; any parser deviation flips rows."""
    from search_engine_spark.operators.crawl import robots_filter

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    sid = F.col("doc_id").cast("string")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.org/"),
            F.substring(F.md5(F.concat(F.lit("p:"), sid)), 1, 2),
            F.lit("/doc"),
            sid,
        ).alias("url"),
    )
    h = lambda tag: F.substring(  # noqa: E731
        F.md5(F.concat(F.lit(tag), F.col("source"))), 1, 1
    )
    robots = (
        docs.select("source")
        .distinct()
        .select(
            F.concat(F.col("source"), F.lit(".example.org")).alias("domain"),
            F.concat(
                F.lit("# synthetic robots\nUser-agent: BadBot\nDisallow: /\n"
                      "\nUser-agent: *\nDisallow: /"),
                h("r1:"),
                F.lit("\nAllow: /"),
                h("r3:"),
                F.lit("\nDisallow: /\nDisallow:\n"
                      "\nUser-agent: SearchEngineBot\nDisallow: /"),
                h("r2:"),
                F.lit("\n\nUser-agent: searchenginebot\nUser-agent: zbot\n"
                      "Disallow: /"),
                h("r4:"),
                F.lit("\n"),
            ).alias("robots_txt"),
        )
    )
    return robots_filter(pages, robots, annotate=True).select(
        "doc_id", "url", F.col("robots_allowed").alias("allowed")
    )


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 boolean top-k over the sf0.001 corpus."""
    eng = _engine(spark, "/root/testdata/sf0.001")
    return eng.search("join && fast", k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "term_freq": _q_term_freq,
        "dictionary": _q_dictionary,
        "doc_stats": _q_doc_stats,
        "index_stats": _q_index_stats,
        "bm25_single": _q_bm25_single,
        "bm25_and": _q_bm25_and,
        "bm25_or": _q_bm25_or,
        "bool_not": _q_bool_not,
        "bool_complex": _q_bool_complex,
        "source_filter": _q_source_filter,
        "phrase": _q_phrase,
        "phrase_scored": _q_phrase_scored,
        "stream_bm25": _q_stream_bm25,
        "stream_phrase": _q_stream_phrase,
        "stream_compact": _q_stream_compact,
        "proximity": _q_proximity,
        "batch_search": _q_batch_search,
        "match_counts": _q_match_counts,
        "suggest": _q_suggest,
        "snippets": _q_snippets,
        "more_like_this": _q_mlt,
        "zipf_rank": _q_zipf_rank,
        "dist_stats": _q_dist_stats,
        "zipf_mandelbrot": _q_zipf_mandelbrot,
        "zipf_fit": _q_zipf_fit,
        "entropy": _q_entropy,
        "gini": _q_gini,
        "coverage": _q_coverage,
        "lang_stats": _q_lang_stats,
        "dedup_exact": _q_dedup_exact,
        "dedup_span": _q_dedup_span,
        "dedup_ngram": _q_dedup_ngram,
        "dedup_minhash": _q_dedup_minhash,
        "dedup_simhash": _q_dedup_simhash,
        "dup_components": _q_dup_components,
        "embed_top_pairs": _q_embed_top_pairs,
        "ann_brute": _q_ann_brute,
        "ann_batch": _q_ann_batch,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "lang_id": _q_lang_id,
        "quality": _q_quality,
        "token_count": _q_token_count,
        "fingerprint": _q_fingerprint,
        "mm_meta": _q_mm_meta,
        "mm_image_real": _q_mm_image_real,
        "mm_audio_real": _q_mm_audio_real,
        "scrub_pii": _q_scrub_pii,
        "repetition": _q_repetition,
        "sample_hash": _q_sample_hash,
        "cap_per_source": _q_cap_per_source,
        "mix_sources": _q_mix_sources,
        "canonical_pick": _q_canonical_pick,
        "pack_seqs": _q_pack_seqs,
        "pack_rows": _q_pack_rows,
        "shuffle_rank": _q_shuffle_rank,
        "curate": _q_curate,
        "curate_embed": _q_curate_embed,
        "decontam": _q_decontam,
        "parse_sources": _q_parse_sources,
        "url_norm": _q_url_norm,
        "alt_simple_tokens": _q_alt_simple_tokens,
        "alt_zipf_freq": _q_alt_zipf_freq,
        "regex_search": _q_regex_search,
        "regex_bool": _q_regex_bool,
        "index_valid": _q_index_valid,
        "vocab_growth": _q_vocab_growth,
        "category_seeds": _q_category_seeds,
        "crawl_pages": _q_crawl_pages,
        "crawl_reach": _q_crawl_reach,
        "robots_allow": _q_robots_allow,
        "events_latest": _q_events_latest,
        "events_sessions": _q_events_sessions,
        "tpch_revenue": _q_tpch_revenue,
    }


def oracle_sql() -> dict[str, str]:
    bm25_q = (
        _BM25
        + """
SELECT doc_id, round(s, 6) AS score FROM score WHERE term = 'join'
ORDER BY s DESC, doc_id ASC LIMIT 10
"""
    )
    bm25_and = (
        _BM25
        + """
SELECT a.doc_id, round(a.s + b.s, 6) AS score
FROM score a JOIN score b USING (doc_id)
WHERE a.term = 'join' AND b.term = 'fast'
"""
    )
    bm25_or = (
        _BM25
        + """
SELECT doc_id,
       round(coalesce(a.s, 0.0) + coalesce(b.s, 0.0), 6) AS score
FROM (SELECT doc_id, s FROM score WHERE term = 'slow') a
FULL OUTER JOIN (SELECT doc_id, s FROM score WHERE term = 'vector') b
  USING (doc_id)
"""
    )
    bool_not = (
        _BM25
        + """
SELECT a.doc_id, round(a.s + 0.0, 6) AS score
FROM score a
WHERE a.term = 'join'
  AND a.doc_id NOT IN (SELECT doc_id FROM score WHERE term = 'fast')
"""
    )
    lang_case = []
    from search_engine_spark.operators.textstats import LANG_MARKERS

    for lang in sorted(LANG_MARKERS):
        marks = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        lang_case.append(
            f"sum(CASE WHEN term IN ({marks}) THEN 1 ELSE 0 END) AS s_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    pred = "CASE WHEN " + best + " <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{l} = {best} THEN '{l}'" for l in langs
    ) + " END"
    lang_id_sql = (
        "WITH " + _TOKS + f""",
sc AS (SELECT doc_id, {", ".join(lang_case)} FROM toks GROUP BY doc_id)
SELECT d.doc_id, coalesce(({pred}), 'und') AS lang_pred
FROM documents d LEFT JOIN sc USING (doc_id)
"""
    )
    # quality_features formula mirrored exactly (see textstats.py)
    quality_sql = (
        "WITH " + _TOKS + "," + _QUALITY_CTES + """
SELECT b.doc_id,
       CAST(b.n_chars AS BIGINT) AS q_n_chars,
       CAST(b.n_tokens AS BIGINT) AS q_n_tokens,
       round(b.avg_tok, 6) AS q_avg_token_len,
       round(b.distinct_ratio, 6) AS q_distinct_ratio,
       q.q6 AS quality_score
FROM qbase b JOIN q USING (doc_id)
"""
    )
    out = {
        "term_freq": "WITH " + _TOKS
        + "SELECT term, count(*)::BIGINT AS freq FROM toks GROUP BY term",
        "dictionary": "WITH " + _TOKS + """
SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS cf
FROM toks GROUP BY term
""",
        # Z6: the 50 selected docs are the doc_id-prefix of `documents`
        # (tokens_df keeps empty-token docs), so cumulative vocab size
        # is the running sum of per-doc first-seen term counts.
        "vocab_growth": "WITH " + _TOKS + """
, sel AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS doc_rank
  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 50)
),
counts AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
firsts AS (SELECT term, min(doc_id) AS fdoc FROM toks GROUP BY term),
news AS (SELECT fdoc AS doc_id, count(*) AS new_terms
         FROM firsts GROUP BY fdoc)
SELECT s.doc_rank,
       sum(coalesce(c.n, 0)) OVER (ORDER BY s.doc_id)::BIGINT
         AS cum_tokens,
       sum(coalesce(nw.new_terms, 0)) OVER (ORDER BY s.doc_id)::BIGINT
         AS vocab_size
FROM sel s
LEFT JOIN counts c ON s.doc_id = c.doc_id
LEFT JOIN news nw ON nw.doc_id = s.doc_id
ORDER BY s.doc_rank
""",
        "doc_stats": "WITH " + _TOKS + """
SELECT d.doc_id,
       coalesce(t.dl, 0)::BIGINT AS doc_len,
       coalesce(t.ut, 0)::BIGINT AS unique_terms
FROM documents d LEFT JOIN (
  SELECT doc_id, count(*) AS dl, count(DISTINCT term) AS ut
  FROM toks GROUP BY doc_id
) t USING (doc_id)
""",
        "index_stats": "WITH " + _TOKS + """,
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
tf AS (SELECT term, doc_id FROM toks GROUP BY term, doc_id)
SELECT (SELECT count(*) FROM documents)::BIGINT AS total_documents,
       (SELECT count(DISTINCT term) FROM toks)::BIGINT AS total_terms,
       (SELECT count(*) FROM tf)::BIGINT AS total_postings,
       (SELECT count(*) FROM toks)::BIGINT AS total_tokens,
       round((SELECT count(*) FROM toks) * 1.0
             / (SELECT count(*) FROM documents), 6) AS avgdl
""",
        "bm25_single": bm25_q,
        "bm25_and": bm25_and,
        "bm25_or": bm25_or,
        "bool_not": bool_not,
        # (join && fast) || (slow && !vector); OR is a full outer join of
        # the two AND branches, each branch summing its leaves in AST
        # order (query_eval._eval)
        "bool_complex": _BM25 + """
, lhs AS (
  SELECT a.doc_id, a.s + b.s AS s
  FROM score a JOIN score b USING (doc_id)
  WHERE a.term = 'join' AND b.term = 'fast'
),
rhs AS (
  SELECT a.doc_id, a.s + 0.0 AS s
  FROM score a
  WHERE a.term = 'slow'
    AND a.doc_id NOT IN (SELECT doc_id FROM score WHERE term = 'vector')
)
SELECT doc_id,
       round(coalesce(lhs.s, 0.0) + coalesce(rhs.s, 0.0), 6) AS score
FROM lhs FULL OUTER JOIN rhs USING (doc_id)
""",
        # top-k of (join && fast) restricted to lang='de' — the filter
        # applies BEFORE the limit
        "source_filter": _BM25 + """
, anded AS (
  SELECT a.doc_id, a.s + b.s AS s
  FROM score a JOIN score b USING (doc_id)
  WHERE a.term = 'join' AND b.term = 'fast'
)
SELECT x.doc_id, round(x.s, 6) AS score
FROM anded x JOIN documents d USING (doc_id)
WHERE d.lang = 'de'
ORDER BY x.s DESC, x.doc_id ASC LIMIT 10
""",
        # streaming boolean AND over the 3-segment incremental index —
        # same oracle shape as bm25_and, different term pair
        "stream_bm25": _BM25 + """
SELECT a.doc_id, round(a.s + b.s, 6) AS score
FROM score a JOIN score b USING (doc_id)
WHERE a.term = 'join' AND b.term = 'slow'
""",
        # compacted-stream batch query: same result set as bm25_or
        # (vector || slow ≡ slow || vector) — the hash equality with a
        # batch-built index's answer is the point
        "stream_compact": _BM25 + """
SELECT doc_id,
       round(coalesce(a.s, 0.0) + coalesce(b.s, 0.0), 6) AS score
FROM (SELECT doc_id, s FROM score WHERE term = 'vector') a
FULL OUTER JOIN (SELECT doc_id, s FROM score WHERE term = 'slow') b
  USING (doc_id)
""",
        # phrase candidates (consecutive ordinals) scored with the sum of
        # both terms' BM25 contributions
        "phrase_scored": _BM25 + """
, raw2 AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
flat2 AS (
  SELECT doc_id, unnest(arr) AS w, unnest(range(1, len(arr)+1)) AS i
  FROM raw2
),
ot AS (
  SELECT doc_id, lower(w) AS term,
         row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
  FROM flat2 WHERE length(w) BETWEEN 2 AND 50
),
cand AS (
  SELECT DISTINCT a.doc_id FROM ot a JOIN ot b
    ON b.doc_id = a.doc_id AND b.rn = a.rn + 1
  WHERE a.term = 'table' AND b.term = 'scan'
)
SELECT c.doc_id, round(st.s + ss.s, 6) AS score
FROM cand c
JOIN (SELECT doc_id, s FROM score WHERE term = 'table') st USING (doc_id)
JOIN (SELECT doc_id, s FROM score WHERE term = 'scan') ss USING (doc_id)
""",
        # the streamed index must answer the SAME phrase contract —
        # the oracle body is shared with phrase_scored by construction
        "stream_phrase": _BM25 + """
, raw2 AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
flat2 AS (
  SELECT doc_id, unnest(arr) AS w, unnest(range(1, len(arr)+1)) AS i
  FROM raw2
),
ot AS (
  SELECT doc_id, lower(w) AS term,
         row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
  FROM flat2 WHERE length(w) BETWEEN 2 AND 50
),
cand AS (
  SELECT DISTINCT a.doc_id FROM ot a JOIN ot b
    ON b.doc_id = a.doc_id AND b.rn = a.rn + 1
  WHERE a.term = 'table' AND b.term = 'scan'
)
SELECT c.doc_id, round(st.s + ss.s, 6) AS score
FROM cand c
JOIN (SELECT doc_id, s FROM score WHERE term = 'table') st USING (doc_id)
JOIN (SELECT doc_id, s FROM score WHERE term = 'scan') ss USING (doc_id)
""",
        "phrase": "WITH " + _OTOKS + """
SELECT DISTINCT a.doc_id
FROM otoks a JOIN otoks b ON b.doc_id = a.doc_id AND b.rn = a.rn + 1
WHERE a.term = 'table' AND b.term = 'scan'
""",
        "proximity": "WITH " + _OTOKS + """
SELECT DISTINCT a.doc_id
FROM otoks a JOIN otoks b
  ON b.doc_id = a.doc_id AND b.rn BETWEEN a.rn AND a.rn + 3
WHERE a.term = 'key' AND b.term = 'value'
""",
        "batch_search": _BM25 + """
, qa AS (
  SELECT doc_id, round(s, 6) AS score, 'join' AS query
  FROM score WHERE term = 'join'
  ORDER BY s DESC, doc_id ASC LIMIT 5
),
qb AS (
  SELECT doc_id, round(s, 6) AS score, 'fast' AS query
  FROM score WHERE term = 'fast'
  ORDER BY s DESC, doc_id ASC LIMIT 5
)
SELECT * FROM qa UNION ALL SELECT * FROM qb
""",
        "match_counts": _BM25 + """
, c1 AS (SELECT 'join' AS query, count(*)::BIGINT AS n
         FROM score WHERE term = 'join'),
c2 AS (SELECT 'join && fast', count(*)::BIGINT
       FROM score a JOIN score b USING (doc_id)
       WHERE a.term = 'join' AND b.term = 'fast'),
c3 AS (SELECT 'slow || vector', count(DISTINCT doc_id)::BIGINT
       FROM score WHERE term IN ('slow', 'vector')),
c4 AS (SELECT 'join && !fast', count(*)::BIGINT
       FROM score a WHERE a.term = 'join' AND a.doc_id NOT IN
         (SELECT doc_id FROM score WHERE term = 'fast'))
SELECT * FROM c1 UNION ALL SELECT * FROM c2
UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4
""",
        "suggest": "WITH " + _TOKS + """
SELECT DISTINCT term FROM toks WHERE term LIKE 's%' ORDER BY term LIMIT 10
""",
        "more_like_this": _BM25 + """
, d0 AS (SELECT DISTINCT term FROM tf WHERE doc_id = 0)
SELECT s.doc_id, round(sum(s.s), 6) AS score
FROM score s JOIN d0 USING (term)
WHERE s.doc_id <> 0
GROUP BY s.doc_id
ORDER BY sum(s.s) DESC, s.doc_id ASC LIMIT 10
""",
        "zipf_rank": "WITH " + _TOKS + """,
freqs AS (SELECT term, count(*)::BIGINT AS freq FROM toks GROUP BY term)
SELECT row_number() OVER (ORDER BY freq DESC, term ASC)::BIGINT AS rank,
       term, freq
FROM freqs ORDER BY rank LIMIT 100
""",
        # V14: ±5-token window around the first 'join' hit with [term]
        # highlighting and clip ellipses, over the bm25_single top-10
        "snippets": _BM25 + """
, hits AS (
  SELECT doc_id, s FROM score WHERE term = 'join'
  ORDER BY s DESC, doc_id ASC LIMIT 10
),
tk AS (
  SELECT h.doc_id, h.s,
         list_transform(
           list_filter(string_split(d.text, ' '),
                       w -> length(w) BETWEEN 2 AND 50),
           w -> lower(w)) AS toks
  FROM hits h JOIN documents d USING (doc_id)
),
win AS (
  SELECT doc_id, s, toks,
         list_position(toks, 'join') AS p,
         len(toks) AS n
  FROM tk
),
cut AS (
  SELECT doc_id, s,
         greatest(1, p - 5) AS lo,
         least(n, p + 5) AS hi, n,
         toks[greatest(1, p - 5):least(n, p + 5)] AS wnd
  FROM win
)
SELECT doc_id, round(s, 6) AS score,
       (CASE WHEN lo > 1 THEN '... ' ELSE '' END)
       || array_to_string(
            list_transform(wnd,
              w -> CASE WHEN w = 'join' THEN '[' || w || ']' ELSE w END),
            ' ')
       || (CASE WHEN hi < n THEN ' ...' ELSE '' END) AS snippet
FROM cut
""",
        "dist_stats": "WITH " + _TOKS + """,
freqs AS (SELECT term, count(*)::BIGINT AS freq FROM toks GROUP BY term)
SELECT sum(freq)::BIGINT AS total_tokens,
       count(*)::BIGINT AS unique_terms,
       max(freq)::BIGINT AS max_freq,
       min(freq)::BIGINT AS min_freq,
       round(avg(freq), 6) AS mean_freq,
       round(median(freq), 6) AS median_freq,
       round(stddev_pop(freq), 6) AS std_freq
FROM freqs
""",
        "zipf_mandelbrot": "WITH " + _TOKS + """,
freqs AS (SELECT term, count(*)::BIGINT AS freq FROM toks GROUP BY term),
ranked AS (
  SELECT row_number() OVER (ORDER BY freq DESC, term ASC)::BIGINT AS rank,
         term, freq
  FROM freqs
),
tot AS (SELECT sum(freq)::DOUBLE AS t FROM freqs)
SELECT rank, term, freq,
       round(tot.t / pow(rank + 2.7, 1.0), 6) AS expected_freq
FROM ranked, tot WHERE rank <= 50
""",
        "zipf_fit": "WITH " + _TOKS + """,
freqs AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
ranked AS (
  SELECT row_number() OVER (ORDER BY freq DESC, term ASC) AS rank, freq
  FROM freqs
)
SELECT round(exp(regr_intercept(ln(freq), ln(rank))), 6) AS c,
       round(-regr_slope(ln(freq), ln(rank)), 6) AS s,
       round(regr_r2(ln(freq), ln(rank)), 6) AS r2
FROM ranked
""",
        "entropy": "WITH " + _TOKS + """,
freqs AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
tot AS (SELECT sum(freq) * 1.0 AS t FROM freqs)
SELECT round(-sum((freq / t) * log2(freq / t)), 6) AS entropy
FROM freqs CROSS JOIN tot
""",
        "gini": "WITH " + _TOKS + """,
freqs AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq ASC, term ASC) AS i
  FROM freqs
),
nt AS (SELECT count(*) * 1.0 AS n, sum(freq) * 1.0 AS tot FROM freqs)
SELECT round(sum((2.0 * i - (SELECT n FROM nt) - 1.0) * freq)
             / ((SELECT n FROM nt) * (SELECT tot FROM nt)), 6) AS gini
FROM ranked
""",
        "coverage": "WITH " + _TOKS + """,
freqs AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, term ASC) AS rank
  FROM freqs
)
SELECT round(sum(CASE WHEN rank <= 10 THEN freq ELSE 0 END) * 1.0
             / sum(freq), 6) AS top10_coverage,
       round(sum(CASE WHEN rank <= 100 THEN freq ELSE 0 END) * 1.0
             / sum(freq), 6) AS top100_coverage
FROM ranked
""",
        "lang_stats": """
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(length(text))::BIGINT AS sum_chars,
       round(avg(length(text)), 6) AS avg_chars
FROM documents GROUP BY lang ORDER BY lang
""",
        "dedup_exact": """
SELECT md5(text) AS content_hash, count(*)::BIGINT AS n_copies,
       min(doc_id) AS keep_id
FROM documents GROUP BY md5(text)
""",
        # chunked ExactSubstr: duplicate 10-token spans dropped
        # corpus-wide, first (doc_id, span_no) wins; md5 of the
        # re-joined surviving spans is the value contract
        "dedup_span": """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '),
                     t -> length(t) BETWEEN 2 AND 50) AS tk
  FROM documents
),
spans AS (
  SELECT doc_id, i AS span_no,
         array_to_string(tk[i*10+1 : i*10+10], ' ') AS span_text
  FROM toks, UNNEST(range(CAST(ceil(len(tk)/10.0) AS BIGINT))) AS u(i)
),
kept AS (
  SELECT doc_id, span_no, span_text FROM (
    SELECT *, row_number() OVER (PARTITION BY span_text
                                 ORDER BY doc_id, span_no) AS rn
    FROM spans) WHERE rn = 1
)
SELECT s.doc_id, s.n_spans, COALESCE(k.n_kept, 0) AS n_kept,
       md5(COALESCE(k.clean, '')) AS clean_md5
FROM (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY 1) s
LEFT JOIN (SELECT doc_id, count(*) AS n_kept,
                  string_agg(span_text, ' ' ORDER BY span_no) AS clean
           FROM kept GROUP BY 1) k USING (doc_id)
""",
        "dedup_ngram": _JACCARD_PAIRS,
        "dedup_minhash": _JACCARD_PAIRS,
        "dedup_simhash": _SIMHASH_PAIRS,
        # connected components over the same exact-Jaccard pairs via a
        # recursive CTE (min reachable label per node)
        "dup_components": _SHINGLES.replace("WITH ", "WITH RECURSIVE ", 1)
        + _PAIRS + """,
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, min(lbl)::BIGINT AS component
FROM reach GROUP BY node
""",
        "embed_top_pairs": """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                b.embedding::DOUBLE[]) DESC,
         a.vec_id, b.vec_id
LIMIT 10
""",
        # five queries, one corpus pass; self-matches excluded
        "ann_batch": """
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
s AS (
  SELECT q.q_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id
)
SELECT q_id, vec_id, round(cos, 6) AS cos FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, vec_id ASC) AS rn
  FROM s) WHERE rn <= 10
""",
        "ann_brute": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cos
FROM embeddings e CROSS JOIN q
WHERE e.vec_id <> 0
ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
         e.vec_id ASC
LIMIT 10
""",
        # brute-force top-10 over embeddings ∪ the planted sidecar
        # (_planted_emb): planted_i = q + 0.15·e_i elementwise, the same
        # double arithmetic as the Spark zip_with. ann_ivf runs over the
        # same union (4-of-16-cell probe), so it shares this oracle —
        # the entry is duplicated below under that key.
        "ann_lsh": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
planted AS (
  SELECT 1000000 + e.vec_id AS vec_id,
         list_transform(list_zip(q.qv, e.embedding::DOUBLE[]),
                        p -> p[1] + 0.15 * p[2]) AS emb
  FROM embeddings e CROSS JOIN q WHERE e.vec_id BETWEEN 1 AND 20
),
allv AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
  UNION ALL SELECT vec_id, emb FROM planted
)
SELECT a.vec_id, round(list_cosine_similarity(a.emb, q.qv), 6) AS cos
FROM allv a CROSS JOIN q
WHERE a.vec_id <> 0
ORDER BY list_cosine_similarity(a.emb, q.qv) DESC, a.vec_id ASC
LIMIT 10
""",
        "lang_id": lang_id_sql,
        "quality": quality_sql,
        "token_count": """
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\\s+'),
                       x -> length(x) > 0))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}'))::BIGINT
         AS n_bpe_pieces
FROM documents
""",
        "fingerprint": _SHINGLES + """
SELECT d.doc_id,
       coalesce(m.fp, md5(d.text)) AS fingerprint
FROM documents d LEFT JOIN (
  SELECT doc_id, min(md5(shingle)) AS fp FROM sh GROUP BY doc_id
) m USING (doc_id)
""",
        "mm_meta": """
SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS sha256
FROM documents
""",
        # real P5 decode: mean luma == mean of the first 64 ASCII byte
        # values (the corpus text is pure ASCII, so ascii(char) == byte)
        "mm_image_real": """
SELECT doc_id, 8 AS width, 8 AS height,
       round(avg(ascii(substr(text, i, 1))), 6) AS mean_luma
FROM documents, unnest(range(1, 65)) AS t(i)
WHERE length(text) >= 64
GROUP BY doc_id
""",
        # real 8-bit PCM decode: sample_i = (byte_i - 128) / 128;
        # signbit(0.0) is False, so the crossing test is (byte < 128)
        "mm_audio_real": """
WITH s AS (
  SELECT doc_id, i, ascii(substr(text, i, 1)) AS b,
         lag(ascii(substr(text, i, 1)))
           OVER (PARTITION BY doc_id ORDER BY i) AS pb
  FROM documents, unnest(range(1, 65)) AS t(i)
  WHERE length(text) >= 64
)
SELECT doc_id, 8000 AS sample_rate, 1 AS n_channels,
       64::BIGINT AS n_samples,
       round(sqrt(avg(power((b - 128) / 128.0, 2))), 6) AS rms,
       round(avg(CASE WHEN pb IS NULL THEN NULL
                      WHEN (b < 128) <> (pb < 128) THEN 1.0
                      ELSE 0.0 END), 6) AS zero_cross_rate
FROM s GROUP BY doc_id
""",
        # md5 hex is identical across engines; DuckDB parses the same
        # first-8-hex-digit prefix Spark's conv() does
        "scrub_pii": """
SELECT doc_id, md5(
  regexp_replace(
    regexp_replace(
      CASE WHEN doc_id % 7 = 0
           THEN text || ' mail bob.smith+x@mail.example.org tel +1 (415) 555-0133 end'
           ELSE text END,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\+?[0-9][0-9()\-\s]{7,}[0-9]', '<PHONE>', 'g')
) AS text_md5
FROM documents
""",
        "repetition": "WITH " + _OTOKS + """,
big AS (
  SELECT a.doc_id, a.term || ' ' || b.term AS sh
  FROM otoks a JOIN otoks b ON b.doc_id = a.doc_id AND b.rn = a.rn + 1
),
per AS (SELECT doc_id, sh, count(*) AS c FROM big GROUP BY 1, 2),
agg AS (
  SELECT doc_id, max(c)::DOUBLE / sum(c) AS tr,
         count(*)::DOUBLE / sum(c) AS dr
  FROM per GROUP BY doc_id
)
SELECT d.doc_id,
       round(coalesce(a.tr, 0), 6) AS top_ngram_ratio,
       round(coalesce(a.dr, 0), 6) AS distinct_ngram_ratio
FROM documents d LEFT JOIN agg a USING (doc_id)
""",
        "sample_hash": """
SELECT doc_id, lang, source FROM documents
WHERE CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 8)) AS BIGINT)
      % 1000000 < 100000
""",
        "cap_per_source": """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn <= 10
""",
        # same md5-bucket rule as sample_hash, but with a per-source
        # threshold: thresholds are the driver-side round(rate*1e6)
        # integer literals the engine bakes in
        "mix_sources": """
SELECT doc_id, source FROM documents
WHERE CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 8)) AS BIGINT)
      % 1000000
      < (CASE source WHEN 'src0' THEN 800000
                     WHEN 'src1' THEN 300000
                     WHEN 'src2' THEN 0
                     ELSE 1000000 END)
""",
        # deterministic permutation: dense rank in md5('42:'||id) order
        "shuffle_rank": """
SELECT doc_id,
       (row_number() OVER (ORDER BY md5('42:' || doc_id::VARCHAR),
                           doc_id) - 1)::BIGINT AS shuffle_rank
FROM documents
""",
        # concatenate-then-chunk packing: exclusive running token total
        # in doc_id order, cut every 100 tokens
        "pack_rows": "WITH " + _TOKS.strip() + """,
pern AS (
  SELECT d.doc_id, coalesce(t.n, 0) AS n
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1) t
  USING (doc_id)
),
c AS (
  SELECT doc_id, n,
         coalesce(sum(n) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS before
  FROM pern
),
e AS (
  SELECT doc_id, n, before,
         unnest(generate_series((before // 100)::BIGINT,
                                ((before + n - 1) // 100)::BIGINT)) AS seq
  FROM c WHERE n > 0
)
SELECT seq::BIGINT AS seq_id, doc_id,
       greatest(0, seq*100 - before)::BIGINT AS token_start,
       (least(n, (seq+1)*100 - before)
        - greatest(0, seq*100 - before))::BIGINT AS token_len,
       (before + greatest(0, seq*100 - before) - seq*100)::BIGINT
         AS seq_offset
FROM e
""",
        "pack_seqs": "WITH " + _TOKS.strip() + """,
pern AS (
  SELECT d.doc_id, coalesce(t.n, 0) AS n
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1) t
  USING (doc_id)
),
c AS (
  SELECT doc_id, n,
         coalesce(sum(n) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS before
  FROM pern
)
SELECT doc_id, n::BIGINT AS n_tokens,
       (before // 100)::BIGINT AS seq_id,
       (before % 100)::BIGINT AS seq_offset
FROM c
""",
        # connected components (same recursive CTE + pairs as
        # dup_components) -> per-component argmax of the 6-dp-rounded
        # quality score, doc_id ascending on ties
        "canonical_pick": _SHINGLES.replace("WITH ", "WITH RECURSIVE ", 1)
        + _PAIRS + """,
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node),
""" + _TOKS.strip() + "," + _QUALITY_CTES + """,
m AS (SELECT c.component, c.doc_id, q.q6 FROM comp c JOIN q USING (doc_id))
SELECT component::BIGINT AS component, doc_id AS keep_id,
       q6 AS best_quality, n_members
FROM (
  SELECT component, doc_id, q6,
         CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members,
         row_number() OVER (PARTITION BY component
                            ORDER BY q6 DESC, doc_id ASC) AS rn
  FROM m) WHERE rn = 1
""",
        "curate": _SHINGLES + _PAIRS + """,
neardup AS (SELECT DISTINCT id_b FROM pairs),
exact_kept AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
)
SELECT doc_id FROM exact_kept
WHERE doc_id NOT IN (SELECT id_b FROM neardup)
""",
        # curate + the semantic stage: cosine ≥ 0.45 pairs among the
        # text-stage survivors drop the higher doc_id (vec_id == doc_id)
        "curate_embed": _SHINGLES + _PAIRS + """,
neardup AS (SELECT DISTINCT id_b FROM pairs),
exact_kept AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
text_surv AS (
  SELECT doc_id FROM exact_kept
  WHERE doc_id NOT IN (SELECT id_b FROM neardup)
),
embdrop AS (
  SELECT DISTINCT b.vec_id AS doc_id
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id IN (SELECT doc_id FROM text_surv)
    AND b.vec_id IN (SELECT doc_id FROM text_surv)
    AND list_cosine_similarity(a.embedding::DOUBLE[],
                               b.embedding::DOUBLE[]) >= 0.45
)
SELECT doc_id FROM text_surv
WHERE doc_id NOT IN (SELECT doc_id FROM embdrop)
""",
        "decontam": "WITH " + _OTOKS + """,
tl AS (SELECT doc_id, list(term ORDER BY rn) AS ts FROM otoks GROUP BY doc_id),
doc_sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts) - 6),
                               i -> array_to_string(ts[i:i+7], ' '))) AS shingle
  FROM tl WHERE len(ts) >= 8
),
bench_sh AS (SELECT DISTINCT shingle FROM doc_sh WHERE doc_id % 50 = 0),
contaminated AS (
  SELECT DISTINCT d.doc_id FROM doc_sh d JOIN bench_sh b USING (shingle)
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
""",
        "parse_sources": """
SELECT doc_id,
       CASE doc_id % 4 WHEN 0 THEN 'wikipedia' WHEN 1 THEN 'habr'
            WHEN 2 THEN 'stackoverflow' ELSE 'generic' END AS source,
       'Doc ' || doc_id AS title,
       CASE doc_id % 4
            WHEN 0 THEN text
            WHEN 1 THEN text || ' l'
            WHEN 2 THEN text || ' first answer second answer'
            ELSE CASE WHEN length(text) > 50 THEN text ELSE '' END
       END AS content,
       CASE doc_id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'ru'
            WHEN 2 THEN 'en' ELSE 'unknown' END AS lang_tag,
       CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 1
            WHEN 2 THEN 0 ELSE 1 END::BIGINT AS n_links,
       'd' || doc_id AS meta_description,
       2::BIGINT AS n_meta
FROM documents
""",
        "url_norm": """
SELECT doc_id,
       'http://example.com/wiki/doc' || doc_id AS norm_url
FROM documents
""",
        # corpus text is lowercase ASCII, so RE2's ASCII \\w == Python's
        # unicode \\w here
        "alt_simple_tokens": r"""
SELECT d.doc_id, coalesce(s.n, 0)::BIGINT AS n_simple
FROM documents d LEFT JOIN (
  SELECT doc_id, count(DISTINCT t) AS n FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS t
    FROM documents
  ) WHERE length(t) >= 2 GROUP BY doc_id
) s USING (doc_id)
""",
        "alt_zipf_freq": r"""
WITH raw AS (
  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
),
kept AS (
  SELECT trim(w, '.,!?;:"''()[]{}') AS term FROM raw WHERE length(w) > 2
)
SELECT term, count(*)::BIGINT AS freq FROM kept
GROUP BY term ORDER BY freq DESC, term ASC LIMIT 30
""",
        "regex_search": """
SELECT doc_id FROM documents
WHERE regexp_matches(text, 'join (the|a|big) ', 'i')
  AND NOT regexp_matches(text, 'dup', 'i')
""",
        "regex_bool": """
SELECT doc_id FROM documents
WHERE regexp_matches(text, 'join (the|a|big)\\s', 'i')
  AND regexp_matches(text, 'fast', 'i')
  AND NOT regexp_matches(text, 'vector', 'i')
""",
        "index_valid": """
SELECT true AS ok, 0::BIGINT AS orphans, 0::BIGINT AS df_mismatches,
       0::BIGINT AS block_mismatches, 0::BIGINT AS bad_ranges
""",
        # S1 category scan: direct members ∪ members of the first 10
        # lexically-ordered subcategories, Category: rows excluded
        "category_seeds": """
WITH m AS (
  SELECT printf('doc://%09d', doc_id) AS url,
         'cat' || CAST(doc_id % 7 AS VARCHAR) AS category
  FROM documents
  UNION ALL
  SELECT printf('doc://%09d', doc_id),
         'sub' || CAST(doc_id % 17 AS VARCHAR)
  FROM documents
  UNION ALL
  SELECT 'Category:sub' || CAST(doc_id % 17 AS VARCHAR),
         'cat' || CAST(doc_id % 7 AS VARCHAR)
  FROM documents WHERE doc_id % 3 = 0
),
subs AS (
  SELECT DISTINCT substr(url, 10) AS sc
  FROM m WHERE category = 'cat0' AND url LIKE 'Category:%'
  ORDER BY sc LIMIT 10
),
hits AS (
  SELECT url FROM m WHERE category = 'cat0'
  UNION ALL
  SELECT m.url FROM m JOIN subs ON m.category = subs.sc
)
SELECT DISTINCT url FROM hits WHERE url NOT LIKE 'Category:%'
""",
        # full crawl() loop: gated BFS as a recursive CTE — expansion
        # only from pages that are robots-allowed AND long enough
        # (failed pages are visited but drop their links); collected =
        # reached ∧ allowed ∧ long, depth = min gated-path depth
        "crawl_pages": """
WITH RECURSIVE
nn AS (SELECT count(*)::BIGINT AS n FROM documents),
gate AS (
  SELECT doc_id, length(text) AS clen,
         NOT (substr(md5('p:' || CAST(doc_id AS VARCHAR)), 1, 1)
                  IN (substr(md5('cr1:w'), 1, 1), substr(md5('cr2:w'), 1, 1))
             ) AS allowed,
         length(text) >= 200 AS long_enough
  FROM documents
),
edges AS (
  SELECT d.doc_id AS src, (d.doc_id*37+11) % nn.n AS dst
  FROM documents d, nn
  UNION ALL
  SELECT d.doc_id,
         CAST(('0x' || substr(md5('e:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % nn.n
  FROM documents d, nn
),
walk(id, depth) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % 89 = 0
  UNION
  SELECT e.dst, w.depth + 1
  FROM walk w
  JOIN gate g ON g.doc_id = w.id AND g.allowed AND g.long_enough
  JOIN edges e ON e.src = w.id
  WHERE w.depth < 3
),
reach AS (SELECT id, MIN(depth)::INT AS depth FROM walk GROUP BY id)
SELECT r.id AS doc_id, r.depth, g.clen::INT AS content_len
FROM reach r JOIN gate g ON g.doc_id = r.id
WHERE g.allowed AND g.long_enough
""",
        "crawl_reach": """
WITH RECURSIVE
n AS (SELECT count(*)::BIGINT AS n FROM documents),
edges AS (
  SELECT printf('doc://%09d', d.doc_id) AS src,
         printf('doc://%09d', (d.doc_id*37+11) % n.n) AS dst
  FROM documents d, n
  UNION ALL
  SELECT printf('doc://%09d', d.doc_id),
         printf('doc://%09d',
                CAST(('0x' || substr(md5('e:' || CAST(d.doc_id AS VARCHAR)),
                                     1, 8)) AS BIGINT) % n.n)
  FROM documents d, n
),
walk(node, depth) AS (
  SELECT printf('doc://%09d', doc_id), 0 FROM documents WHERE doc_id % 97 = 0
  UNION
  SELECT e.dst, w.depth + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.depth < 4
)
SELECT node AS url, MIN(depth)::INT AS depth FROM walk GROUP BY node
""",
        "robots_allow": """
WITH p AS (
  SELECT doc_id,
         'https://' || source || '.example.org' AS dom,
         '/' || substr(md5('p:' || CAST(doc_id AS VARCHAR)), 1, 2)
             || '/doc' || CAST(doc_id AS VARCHAR) AS path,
         '/' || substr(md5('r1:' || source), 1, 1) AS d1,
         '/' || substr(md5('r2:' || source), 1, 1) AS d2
  FROM documents
)
SELECT doc_id, dom || path AS url,
       NOT (path LIKE d1 || '%' OR path LIKE d2 || '%') AS allowed
FROM p
""",
        "events_latest": """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
        "events_sessions": """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
),
g AS (
  SELECT user_id,
         CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
)
SELECT user_id, sum(new_s)::BIGINT AS n_sessions,
       count(*)::BIGINT AS n_events
FROM g GROUP BY user_id
""",
        "tpch_revenue": """
SELECT n.n_name AS nation, count(*)::BIGINT AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    }
    # ann_ivf runs over the same planted union as ann_lsh and recovers
    # the identical exact top-10 — shared oracle.
    out["ann_ivf"] = out["ann_lsh"]
    return out
