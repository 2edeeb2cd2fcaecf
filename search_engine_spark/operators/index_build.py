"""Inverted-index construction — the build-side dataflow (SURVEY.md §3.1).

Spark-first pipeline, one tokenize pass, explicit partitioning::

    pages (url, warc_ts, html, text, lang)
      │  build_docs: url normalization (E12), then ONE url-range
      │  shuffle; keep-first dedup (E13), extraction (E2-E3) and the
      │  min_article_length filter fused in a single sorted Arrow pass;
      │  dense url-ordered doc_id via two-pass per-partition offsets
      │  (SURVEY §7.1 — no global sort)
      ▼
    docs     (doc_id, url, title, lang, text)            ← text at rest, once
      │  build_postings: tokenize + per-doc aggregate fused in one
      │  mapInPandas (B1: inverted_index.cpp:46-68 semantics),
      │  sortWithinPartitions →
      ▼
    postings (term, doc_id, tf, doc_len[, positions])   ← sorted runs
      │  build_docmeta: per-doc Σtf / #terms joined back to docs
      ▼
    docmeta  (doc_id, url, title, lang, doc_len, unique_terms)
      ·
    postings │  groupBy(term) partial+final agg
      ▼
    dictionary (term, df, cf)                           (B7)
      │  heavy terms (df > salt_df_threshold) broadcast back; salt =
      │  pmod(doc_id, S) splits their posting lists (north_rule skew)
      │  repartition(P, term, salt) + sortWithinPartitions(term, salt,
      │  doc_id) — the shuffle-merge of sorted runs by term hash
      ▼
    blocks  (term, block_id, doc_count, min_doc, max_doc, max_tf,
             max_stf, max_score, doc_gaps, tfs)          (B9 + block-max)

The head (build_docs → build_postings → build_docmeta) is also how a
streaming epoch builds its segment (``streaming/incremental.py``): it
offsets the ids by the stream's high-water mark and keeps ``text`` in
the segment docmeta. The tail (``finish_index``) is shared with stream
compaction. Each stage persists through :class:`IndexStore` and is
checkpoint-resumable via the manifest (S13 model). At 10^12 docs the
same plan holds: every shuffle is keyed and bounded (term-hash × salt),
the only driver-side data are per-partition counts and the heavy-term
list.
"""

from __future__ import annotations

import time
from typing import Iterable, Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from search_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from search_engine_spark.functions import codec
from search_engine_spark.functions.tokenizer import _decode, batch_token_codes
from search_engine_spark.sources.index_store import IndexStore

# --------------------------------------------------------------------------
# stage 1: docs (dedup → extract → doc_id) and docmeta
# --------------------------------------------------------------------------

def _extract_map(cfg: EngineConfig):
    """Vectorized extract (E2-E3) fused with keep-first-per-url dedup
    (E13): the input partition is (url, warc_ts)-sorted and
    url-range-partitioned, so the first row of each url is the earliest
    copy — the carried ``last_url`` handles groups spanning Arrow
    batches."""
    last_url_holder = {"u": None}
    want_ml = cfg.extract_meta_links

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from search_engine_spark.functions.html_extract import (
            extract_text,
            extract_title,
            parse_html,
        )
        from search_engine_spark.functions.source_parsers import (
            extract_links,
            extract_metadata,
        )

        for pdf in batches:
            if len(pdf):
                keep = pdf["url"].ne(pdf["url"].shift())
                if last_url_holder["u"] is not None:
                    keep.iloc[0] = pdf["url"].iloc[0] != last_url_holder["u"]
                last_url_holder["u"] = pdf["url"].iloc[-1]
                pdf = pdf[keep]
            titles, texts = [], []
            metas, linkss = [], []
            html_col = pdf["html"] if "html" in pdf.columns else [None] * len(pdf)
            text_col = pdf["text"] if "text" in pdf.columns else [None] * len(pdf)
            title_col = pdf["title"] if "title" in pdf.columns else [None] * len(pdf)
            for html, pre, pre_title in zip(html_col, text_col, title_col):
                # ONE parse per page shared by title/text/metadata/links —
                # and NO parse when nothing needs it (pre-extracted text
                # + title present and meta/links are off)
                has_pre = isinstance(pre, str) and bool(pre)
                has_title = isinstance(pre_title, str) and bool(pre_title)
                need_parse = html is not None and (
                    want_ml or not has_pre or not has_title
                )
                root = parse_html(html) if need_parse else None
                if want_ml:
                    metas.append(extract_metadata(root) if root else {})
                    linkss.append(extract_links(root) if root else [])
                if has_pre:
                    # pre-extracted text present: per-row invariant says it
                    # byte-equals what extraction would produce; trust it and
                    # only pull the title from html if needed.
                    if has_title:
                        titles.append(pre_title)
                    else:
                        titles.append(extract_title(root) if root else "")
                    texts.append(pre)
                else:
                    titles.append(extract_title(root) if root else "")
                    # extract_text decomposes the tree — metadata/links
                    # and the title were read above, before mutation
                    texts.append(extract_text(root) if root else "")
            out = pd.DataFrame(
                {
                    "url": pdf["url"],
                    "title": titles,
                    "text": texts,
                    "lang": (
                        pdf["lang"] if "lang" in pdf.columns else [""] * len(pdf)
                    ),
                }
            )
            if want_ml:
                out["metadata"] = metas
                out["links"] = linkss
            if cfg.min_article_length > 0:
                out = out[out["text"].str.len() >= cfg.min_article_length]
            yield out

    return fn


def extract_schema(cfg: EngineConfig) -> T.StructType:
    """Output schema of ``_extract_map`` — the meta/links columns exist
    only when ``cfg.extract_meta_links`` (every consumer must use THIS,
    not a hand-rolled copy, or the shapes drift)."""
    return T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("title", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
        + (
            [
                T.StructField(
                    "metadata", T.MapType(T.StringType(), T.StringType()), True
                ),
                T.StructField("links", T.ArrayType(T.StringType()), True),
            ]
            if cfg.extract_meta_links
            else []
        )
    )


def global_ordinal(df: DataFrame, sort_cols, col_name: str = "_ord",
                   partitions: int = 64) -> DataFrame:
    """Global dense 0-based ordinal in ``sort_cols`` order WITHOUT a
    single-partition window — the exclusive prefix sum of 1s. Exact same
    ordinals as ``row_number() over (order by sort_cols)`` − 1."""
    return global_prefix_sum(df, sort_cols, None, col_name, partitions)


def global_prefix_sum(df: DataFrame, sort_cols, value_col: Optional[str],
                      col_name: str = "_prefix",
                      partitions: int = 64) -> DataFrame:
    """EXCLUSIVE global prefix sum of ``value_col`` (1 per row when None)
    in ``sort_cols`` order, without a single-partition window: row i
    gets sum(value of all rows strictly before it). Exact same values as
    ``sum(value) over (order by sort_cols rows between unbounded
    preceding and 1 preceding)`` with nulls-as-zero.

    Range-partition + in-partition sort, then
    :func:`_add_partition_offset_ids`. ``repartitionByRange`` samples
    its boundaries, so the ranged input is persisted across the two
    passes and the result eagerly localCheckpoint'ed before that cache
    is released (callers invoking this repeatedly must not accumulate
    session-lifetime cache blocks)."""
    ranged = (
        df.repartitionByRange(max(1, partitions), *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .persist()
    )
    out = _add_partition_offset_ids(
        df.sparkSession, ranged, col_name, value_col
    ).localCheckpoint(eager=True)
    ranged.unpersist()
    return out


def _add_partition_offset_ids(spark: SparkSession, ranged: DataFrame,
                              col_name: str = "doc_id",
                              value_col: Optional[str] = None) -> DataFrame:
    """THE two-pass offset kernel, over a sorted frame whose partitions
    are stable across passes: per-partition totals of ``value_col``
    (nulls as 0; 1 per row when None, which makes the result a dense
    ordinal) collected to the driver → offsets → in-partition exclusive
    cumsum as the new first column ``col_name``. Doc-id assignment,
    analytics ranks, export renumbering, sequence packing and text-line
    numbering all route here."""
    v = F.lit(1) if value_col is None else F.coalesce(F.col(value_col), F.lit(0))
    sums = (
        ranged.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.sum(v).alias("s"))
        .collect()
    )
    offsets = {}
    acc = 0
    for row in sorted(sums, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += int(row["s"] or 0)

    out_schema = T.StructType(
        [T.StructField(col_name, T.LongType(), False)] + list(ranged.schema.fields)
    )

    def add_offsets(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        running = offsets.get(TaskContext.get().partitionId(), 0)
        for pdf in batches:
            if value_col is None:
                v = np.ones(len(pdf), dtype=np.int64)
            else:
                v = pdf[value_col].fillna(0).to_numpy(dtype=np.int64)
            cs = np.cumsum(v)
            pdf = pdf.copy()
            pdf.insert(0, col_name, running + cs - v)
            running += int(cs[-1]) if len(v) else 0
            yield pdf

    return ranged.mapInPandas(add_offsets, schema=out_schema)


def build_docs(
    spark: SparkSession, pages: DataFrame, cfg: EngineConfig
) -> DataFrame:
    """dedup + extract + deterministic doc_id in ONE full-data shuffle —
    the head of both ``build_index`` and a streaming epoch (which
    offsets the ids by its high-water mark). Ids are dense from 0 in
    url order.

    The url-range repartition both (a) co-locates every copy of a url —
    so keep-first dedup (E13) runs inside the sorted partition stream,
    fused with extraction in a single Arrow pass — and (b) is the exact
    partitioning the two-pass dense doc-id assignment needs, so the
    full text column crosses the cluster once. At 10^12 docs that is
    the difference between 1× and 2× the corpus through the shuffle
    service."""
    if cfg.normalize_urls:
        # E12 (url_manager.py:57-85): defrag + scheme default + lowercase
        # as a pure column expression BEFORE the dedup shuffle, so
        # http://X/#frag and http://x/ collapse to one doc. JVM-side —
        # no Python worker ahead of the shuffle.
        from search_engine_spark.functions.source_parsers import (
            normalize_url_col,
        )

        pages = pages.withColumn("url", normalize_url_col(F.col("url")))
    parts = max(1, min(cfg.index_partitions, 10_000))
    sort_cols = [F.col("url").asc()] + (
        [F.col("warc_ts").asc_nulls_last()] if "warc_ts" in pages.columns else []
    )
    ranged = pages.repartitionByRange(parts, "url").sortWithinPartitions(
        *sort_cols
    )
    extracted = ranged.mapInPandas(_extract_map(cfg), schema=extract_schema(cfg))
    # The id passes read this frame twice over sampled range boundaries,
    # so both read one eager local checkpoint. DISK_ONLY: serialized
    # blocks on spark.local.dir avoid the SQL columnar cache's on-heap
    # allocation churn (3-4x wall-clock variance on large corpora), and
    # unlike a persist the checkpoint registers no cache entry, so a
    # build leaves the session's cache alone; its blocks go with the
    # frame.
    return _add_partition_offset_ids(
        spark,
        extracted.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY),
    )


def build_docmeta(docs: DataFrame, postings: DataFrame) -> DataFrame:
    """docmeta = the caller's ``docs`` columns + per-doc token stats
    derived from ``docs``' postings (B3): doc_len = Σtf (total tokens,
    BM25 |d|), unique_terms = #distinct terms (the reference's
    Document.length, inverted_index.cpp:99-100).

    ``build_index`` passes (doc_id, url, title, lang): text lives once,
    in the ``docs`` stage, since duplicating it here would double the
    corpus at rest (terabytes at 10^12 docs); snippets join ``docs`` on
    the k hit rows. A streaming epoch passes ``text`` too, so a segment
    is docmeta + postings alone; ``text`` then goes last."""
    stats = postings.groupBy("doc_id").agg(
        F.sum("tf").alias("doc_len"), F.count("*").alias("unique_terms")
    )
    text = ["text"] if "text" in docs.columns else []
    return docs.join(stats, "doc_id", "left").select(
        *[c for c in docs.columns if c != "text"],
        F.coalesce("doc_len", F.lit(0)).cast("long").alias("doc_len"),
        F.coalesce("unique_terms", F.lit(0)).cast("long").alias("unique_terms"),
        *text,
    )


# --------------------------------------------------------------------------
# stage 2: postings (tokenize, fused per-doc aggregation — sorted runs)
# --------------------------------------------------------------------------


def postings_schema(cfg: EngineConfig) -> T.StructType:
    fields = [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("doc_len", T.LongType(), False),
    ]
    if cfg.store_positions:
        fields.append(
            T.StructField("positions", T.ArrayType(T.IntegerType()), True)
        )
    return T.StructType(fields)


def _tokenize_map_vec(cfg: EngineConfig):
    """Batch-vectorized B1: tokenize per doc (C-level findall), then ONE
    factorize + stable-argsort pass aggregates (doc, term) → (tf,
    positions) for the whole Arrow batch, replacing the per-token dict
    loop (measured ~2× kernel throughput, output rows identical modulo
    order — irrelevant under sortWithinPartitions downstream).

    Per (doc, term) group: tf = segment length, positions = the token
    ordinals in ascending order (stable sort preserves the generation
    order within each group)."""
    store_pos = cfg.store_positions

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            out = batch_token_codes(pdf["text"], cfg)
            if out is None:
                continue
            codes, uniques, lens, keep_u = out
            total = len(codes)
            doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            doc_lens = lens
            if keep_u is not None:
                if not keep_u.all():
                    kept = keep_u[codes]
                    cs0 = np.concatenate(
                        ([0], np.cumsum(kept, dtype=np.int64))
                    )
                    # ordinal among KEPT tokens within each doc, and
                    # per-doc kept counts (doc_len), both closed-form
                    doc_lens = cs0[starts + lens] - cs0[starts]
                    ordinals = (
                        cs0[1:] - 1 - np.repeat(cs0[starts], lens)
                    ).astype(np.int32)
                    sel = np.flatnonzero(kept)
                    if not len(sel):
                        continue
                    codes = codes[sel]
                    doc_idx = doc_idx[sel]
                    ordinals = ordinals[sel]
                    total = len(sel)
                else:
                    ordinals = (
                        np.arange(total, dtype=np.int64)
                        - np.repeat(starts, lens)
                    ).astype(np.int32)
            else:
                ordinals = (
                    np.arange(total, dtype=np.int64)
                    - np.repeat(starts, lens)
                ).astype(np.int32)
            key = doc_idx * len(uniques) + codes
            order = np.argsort(key, kind="stable")
            sk = key[order]
            seg_starts = np.flatnonzero(
                np.concatenate(([True], sk[1:] != sk[:-1]))
            )
            tf = np.diff(np.concatenate((seg_starts, [total]))).astype(
                np.int32
            )
            first = order[seg_starts]
            uniq_str = np.array([_decode(u) for u in uniques], dtype=object)
            data = {
                "term": pd.array(uniq_str[codes[first]], dtype=object),
                "doc_id": pdf["doc_id"].to_numpy()[doc_idx[first]],
                "tf": tf,
                "doc_len": doc_lens[doc_idx[first]],
            }
            if store_pos:
                # zero-copy Arrow list column: the group boundaries ARE
                # the list offsets, so no per-group Python objects at
                # all (Spark's serializer passes the ExtensionArray's
                # arrow data straight through)
                offsets = np.append(seg_starts, total).astype(np.int32)
                lists = pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()),
                    pa.array(ordinals[order], type=pa.int32()),
                )
                data["positions"] = pd.arrays.ArrowExtensionArray(lists)
            yield pd.DataFrame(data)

    return fn


def build_postings(docs: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Long-form postings, written as per-partition (term, doc_id) sorted
    runs (north_rule). Column pruning keeps later readers cheap."""
    src = docs.select("doc_id", "text")
    long = src.mapInPandas(_tokenize_map_vec(cfg), schema=postings_schema(cfg))
    return long.sortWithinPartitions("term", "doc_id")


# --------------------------------------------------------------------------
# stage 3: dictionary (df/cf) — B7
# --------------------------------------------------------------------------


def build_dictionary(postings: DataFrame) -> DataFrame:
    """(term, df, cf) — term-RANGE-partitioned and sorted at rest
    (VERDICT r4 #6): each parquet file/row group covers a narrow term
    range, so ``suggest``'s StringStartsWith and ``term_stats``'s In
    predicates prune by footer min/max instead of scanning the whole
    vocabulary. The extra shuffle is vocab-sized (the groupBy already
    shuffled the postings)."""
    return (
        postings.groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        .repartitionByRange(F.col("term"))
        .sortWithinPartitions("term")
    )


# --------------------------------------------------------------------------
# stage 4: compressed blocks with block-max metadata — B9
# --------------------------------------------------------------------------

_BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("block_id", T.LongType(), False),
        T.StructField("doc_count", T.IntegerType(), False),
        T.StructField("min_doc", T.LongType(), False),
        T.StructField("max_doc", T.LongType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("max_stf", T.DoubleType(), False),
        T.StructField("max_score", T.DoubleType(), False),
        T.StructField("doc_gaps", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
    ]
)


def _block_builder(cfg: EngineConfig, n_docs: int, avgdl: float):
    """mapInPandas over (term, salt, doc_id)-sorted partitions.

    Groups may span Arrow batches within a partition → carry the
    trailing (term, salt) group over to the next batch.

    Vectorized over the whole batch: group/block boundaries via cumsum,
    per-block metadata via ``np.maximum.reduceat``, and ONE varbyte
    encode per (gaps, tfs, dls) stream with per-value byte counts
    slicing the payload back into blocks — the earlier per-group
    ``pdf.iloc`` + per-block encode loop was ~60% pandas slicing
    overhead at dictionary scale. Output rows are byte-identical
    (pinned by test_codec's builder-equivalence test).
    """
    k1, b, bs = cfg.k1, cfg.b, cfg.block_size

    def emit_batch(pdf: pd.DataFrame, rows: list) -> None:
        m = len(pdf)
        if m == 0:
            return
        term = pdf["term"].to_numpy()
        salt = pdf["salt"].to_numpy()
        doc_id = pdf["doc_id"].to_numpy(dtype=np.int64, copy=True)
        tf = pdf["tf"].to_numpy(dtype=np.int64)
        dl = pdf["doc_len"].to_numpy(dtype=np.int64)
        dfv = pdf["df"].to_numpy(dtype=np.float64)  # NaN for unsalted terms
        gb = np.ones(m, dtype=bool)
        gb[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
        gidx = np.cumsum(gb) - 1
        gstarts = np.flatnonzero(gb)
        ordinal = np.arange(m) - gstarts[gidx]
        block_start = ordinal % bs == 0
        bstarts = np.flatnonzero(block_start)
        bends = np.append(bstarts[1:], m)
        seq = ordinal[bstarts] // bs
        counts = bends - bstarts
        max_tf = np.maximum.reduceat(tf, bstarts)
        max_stf = np.maximum.reduceat(codec.bm25_stf(tf, dl, avgdl, k1, b),
                                      bstarts)
        # idf per group — codec.bm25_idf (math.log, not np.log) so
        # stored max_score stays bit-identical with the query path's idf
        gsizes = np.append(gstarts[1:], m) - gstarts
        df_g = np.where(np.isnan(dfv[gstarts]), gsizes, dfv[gstarts])
        idf_g = np.fromiter(
            (codec.bm25_idf(n_docs, d) for d in df_g),
            dtype=np.float64, count=len(df_g),
        )
        max_score = idf_g[gidx[bstarts]] * max_stf
        block_id = salt[bstarts].astype(np.int64) * (1 << 20) + seq
        min_doc = doc_id[bstarts].copy()
        max_doc = doc_id[bends - 1].copy()
        # gap stream: absolute doc_id at block starts, delta elsewhere
        inner = ~block_start
        gaps = doc_id
        gaps[inner] -= np.concatenate(([0], doc_id[:-1]))[inner]
        if (gaps[inner] <= 0).any():
            raise ValueError("doc_ids must be strictly increasing within a block")
        gap_bytes, gap_nb = codec.vb_encode_arr(gaps)
        tf_bytes, tf_nb = codec.vb_encode_arr(tf)
        dl_bytes, dl_nb = codec.vb_encode_arr(dl)

        def block_offsets(nb: np.ndarray) -> np.ndarray:
            ends_ = np.cumsum(nb)
            off = np.empty(len(bstarts) + 1, dtype=np.int64)
            off[:-1] = ends_[bstarts] - nb[bstarts]
            off[-1] = ends_[-1]
            return off

        go, to, do = (block_offsets(nb) for nb in (gap_nb, tf_nb, dl_nb))
        terms_b = term[bstarts]
        for i in range(len(bstarts)):
            rows.append(
                (
                    terms_b[i],
                    int(block_id[i]),
                    int(counts[i]),
                    int(min_doc[i]),
                    int(max_doc[i]),
                    int(max_tf[i]),
                    float(max_stf[i]),
                    float(max_score[i]),
                    gap_bytes[go[i]:go[i + 1]],
                    tf_bytes[to[i]:to[i + 1]],
                    dl_bytes[do[i]:do[i + 1]],
                )
            )

    def flush(pdf: pd.DataFrame, rows: list, keep_tail: bool):
        """Emit all complete (term, salt) groups; return the tail group."""
        if len(pdf) == 0:
            return pdf
        keys = pdf[["term", "salt"]]
        boundary = (keys != keys.shift()).any(axis=1).to_numpy()
        if keep_tail:
            last = int(np.flatnonzero(boundary)[-1])
            emit_batch(pdf.iloc[:last], rows)
            return pdf.iloc[last:].copy()
        emit_batch(pdf, rows)
        return pdf.iloc[0:0]

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: Optional[pd.DataFrame] = None
        cols = [f.name for f in _BLOCKS_SCHEMA.fields]
        for pdf in batches:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            rows: list = []
            buf = flush(pdf, rows, keep_tail=True)
            if rows:
                yield pd.DataFrame(rows, columns=cols)
        if buf is not None and len(buf):
            rows = []
            flush(buf, rows, keep_tail=False)
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return fn


def build_blocks(
    postings: DataFrame,
    dictionary: DataFrame,
    cfg: EngineConfig,
    n_docs: int,
    avgdl: float,
) -> DataFrame:
    heavy = dictionary.filter(F.col("df") > cfg.salt_df_threshold).select("term", "df")
    salted = (
        postings.select("term", "doc_id", "tf", "doc_len")
        .join(F.broadcast(heavy), "term", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("df").isNotNull(),
                F.pmod(F.col("doc_id"), F.lit(cfg.salt_buckets)),
            ).otherwise(F.lit(0)).cast("int"),
        )
    )
    shuffled = salted.repartition(
        cfg.index_partitions, "term", "salt"
    ).sortWithinPartitions("term", "salt", "doc_id")
    return shuffled.mapInPandas(
        _block_builder(cfg, n_docs, avgdl), schema=_BLOCKS_SCHEMA
    )


# --------------------------------------------------------------------------
# orchestration: checkpoint-resumable build
# --------------------------------------------------------------------------


def compute_index_stats(store: IndexStore, spark: SparkSession) -> dict:
    """IndexStats (B6 — inverted_index.cpp:158-204 parity):
    avg_document_length averages unique_terms; most_frequent_term by df
    with deterministic (df, term) tie-break."""
    docmeta = store.read_stage(spark, "docmeta")
    dictionary = store.read_stage(spark, "dictionary")
    d = docmeta.agg(
        F.count("*").alias("n"),
        F.avg("unique_terms").alias("avg_unique"),
        F.avg("doc_len").alias("avgdl"),
        F.sum("doc_len").alias("total_tokens"),
    ).collect()[0]
    t = dictionary.agg(
        F.count("*").alias("terms"),
        F.sum("df").alias("postings"),
        F.max(F.struct("df", "term")).alias("most"),
    ).collect()[0]
    n_terms = t["terms"] or 0
    n_postings = int(t["postings"] or 0)
    return {
        "total_documents": int(d["n"]),
        "total_terms": int(n_terms),
        "total_postings": n_postings,
        "total_tokens": int(d["total_tokens"] or 0),
        "avg_document_length": float(d["avg_unique"] or 0.0),
        "avgdl_tokens": float(d["avgdl"] or 0.0),
        "avg_term_frequency": (n_postings / n_terms) if n_terms else 0.0,
        "most_frequent_term": t["most"]["term"] if t["most"] else None,
    }


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    resume: bool = False,
) -> IndexStore:
    """End-to-end build. ``resume=True`` skips stages whose manifest
    entry is complete (kill the job after any stage; rerun resumes); it
    raises ``ValueError`` if those stages were built under another
    ``cfg``."""
    from search_engine_spark.session import ensure_shipped

    ensure_shipped(spark)
    store = IndexStore(index_dir)
    store.bind_config(cfg.to_dict(), resume)
    timings = {}

    if not (resume and store.stage_complete("docs")):
        t0 = time.time()
        store.write_stage("docs", build_docs(spark, pages, cfg), t0)
        timings["docs_s"] = round(time.time() - t0, 3)
    docs = store.read_stage(spark, "docs")

    if not (resume and store.stage_complete("postings")):
        t0 = time.time()
        store.write_stage("postings", build_postings(docs, cfg), t0)
        timings["postings_s"] = round(time.time() - t0, 3)
    postings = store.read_stage(spark, "postings")

    if not (resume and store.stage_complete("docmeta")):
        t0 = time.time()
        meta = build_docmeta(docs.select("doc_id", "url", "title", "lang"),
                             postings)
        store.write_stage("docmeta", meta, t0)
        timings["docmeta_s"] = round(time.time() - t0, 3)

    return finish_index(spark, store, postings, cfg, timings, resume)


def finish_index(spark: SparkSession, store: IndexStore, postings: DataFrame,
                 cfg: EngineConfig, timings: dict,
                 resume: bool = False) -> IndexStore:
    """The last stages of an index whose docs, postings and docmeta
    stages are written, shared by ``build_index`` and the stream's
    ``compact``: dictionary → ``compute_index_stats`` → blocks →
    ``meta.json``. ``resume`` skips the stages whose manifest entry is
    complete."""
    if not (resume and store.stage_complete("dictionary")):
        t0 = time.time()
        store.write_stage("dictionary", build_dictionary(postings), t0)
        timings["dictionary_s"] = round(time.time() - t0, 3)
    dictionary = store.read_stage(spark, "dictionary")

    # the stats read only docmeta and the dictionary, so they come
    # before the blocks, which need their (n_docs, avgdl)
    stats = compute_index_stats(store, spark)
    n_docs, avgdl = stats["total_documents"], stats["avgdl_tokens"]

    if not (resume and store.stage_complete("blocks")):
        t0 = time.time()
        store.write_stage(
            "blocks", build_blocks(postings, dictionary, cfg, n_docs, avgdl), t0
        )
        timings["blocks_s"] = round(time.time() - t0, 3)

    store.write_meta(
        {
            "config": cfg.to_dict(),
            "n_docs": n_docs,
            "avgdl": avgdl,
            "stats": stats,
            "timings": timings,
        }
    )
    return store


def validate_index(store: IndexStore, spark: SparkSession) -> dict:
    """B8 (inverted_index.cpp:502-534): post-build integrity checks as
    anti-join/aggregate queries. Returns {check: ok} and raises nothing
    — callers decide what a failure means.

    * doc ids dense [0, N) and unique; url unique
    * every posting's doc_id exists in docmeta
    * dictionary df == distinct doc count per term in postings
    * block doc_counts sum to df per term; block doc ranges consistent
    """
    docmeta = store.read_stage(spark, "docmeta")
    postings = store.read_stage(spark, "postings")
    dictionary = store.read_stage(spark, "dictionary")
    blocks = store.read_stage(spark, "blocks")

    n = docmeta.count()
    agg = docmeta.agg(
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
        F.countDistinct("doc_id").alias("du"),
        F.countDistinct("url").alias("uu"),
    ).collect()[0]
    dense = (
        n == 0
        or (agg["mn"] == 0 and agg["mx"] == n - 1 and agg["du"] == n)
    )
    urls_unique = agg["uu"] == n

    orphan_postings = (
        postings.select("doc_id")
        .distinct()
        .join(docmeta.select("doc_id"), "doc_id", "left_anti")
        .count()
    )

    df_check = (
        postings.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df2"))
        .join(dictionary, "term", "full")
        .filter(
            F.col("df").isNull()
            | F.col("df2").isNull()
            | (F.col("df") != F.col("df2"))
        )
        .count()
    )

    block_check = (
        blocks.groupBy("term")
        .agg(F.sum("doc_count").alias("bc"))
        .join(dictionary, "term", "full")
        .filter(
            F.col("df").isNull()
            | F.col("bc").isNull()
            | (F.col("df") != F.col("bc"))
        )
        .count()
    )

    bad_ranges = blocks.filter(
        (F.col("min_doc") > F.col("max_doc"))
        | (F.col("doc_count") <= 0)
        | (F.col("max_doc") >= n)
    ).count()

    return {
        "doc_ids_dense": bool(dense),
        "urls_unique": bool(urls_unique),
        "orphan_posting_docs": int(orphan_postings),
        "dictionary_df_mismatches": int(df_check),
        "block_doc_count_mismatches": int(block_check),
        "bad_block_ranges": int(bad_ranges),
        "ok": bool(
            dense
            and urls_unique
            and orphan_postings == 0
            and df_check == 0
            and block_check == 0
            and bad_ranges == 0
        ),
    }
