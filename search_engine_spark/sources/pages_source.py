"""Synthetic `pages` corpus generator + readers (FIXTURES.md §1).

Deterministic (seeded) generator for the engine's primary input table
with schema exactly = BASELINE.json ``input_hint``:

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Content: Zipf(s≈1.0)-distributed vocabulary mixing Russian-like
Cyrillic stems (built from syllables) with ASCII tech terms, mirroring
the reference's corpus mix (``report/main.tex:310-326``). The four
reference query terms (``scripts/test_cpp_search.py:80-85``) are pinned
into the vocabulary at moderate ranks so every test query has hits.
Doc length is log-normal. HTML wraps the body text in rotating
templates that exercise every branch of the reference extraction
algorithm (plain body / article / main / .content / #content /
.post-content with script-style-nav noise / Wikipedia-style container).

The ``text`` column is defined as ``extract_text(html)`` — computed by
the same algorithm the engine's UDF runs, which *is* the per-row
invariant ("byte-identical extracted text per url"). A fraction of rows
carries ``text = NULL`` to exercise the engine's extract-from-html path,
and a fraction of urls is duplicated with a later ``warc_ts`` to
exercise dedup (E13).
"""

from __future__ import annotations

import datetime as _dt
import random
from typing import List, Optional

import numpy as np
import pandas as pd

from search_engine_spark.functions.html_extract import extract_html

REFERENCE_QUERY_TERMS = ["математика", "информация", "число", "алгебра"]

_CYR_SYLLABLES = [
    "ма", "те", "ра", "ти", "ка", "ин", "фор", "ция", "чис", "ло",
    "ал", "геб", "ве", "до", "ный", "про", "гра", "ми", "ро", "ва",
    "ние", "сис", "тем", "по", "иск", "дан", "ных", "мо", "дель",
    "ана", "лиз", "век", "тор", "ран", "жи", "слов", "кор", "пус",
]
_ASCII_TERMS = [
    "spark", "index", "query", "token", "parser", "hash", "merge",
    "shard", "block", "score", "rank", "crawler", "parquet", "arrow",
    "vector", "batch", "shuffle", "varbyte", "bm25", "wand", "zipf",
    "mongo", "python", "http", "html", "utf8", "cache", "driver",
]


def build_vocab(size: int = 4000, seed: int = 42) -> List[str]:
    rng = random.Random(seed)
    vocab: List[str] = []
    seen = set()
    # pin reference query terms at moderate ranks
    anchors = {50: "математика", 120: "информация", 200: "число", 350: "алгебра"}
    seen.update(anchors.values())  # reserve; inserted exactly at their ranks
    i = 0
    while len(vocab) < size:
        if len(vocab) in anchors:
            vocab.append(anchors.pop(len(vocab)))
            continue
        if rng.random() < 0.15 and i < len(_ASCII_TERMS) * 40:
            w = rng.choice(_ASCII_TERMS) + (str(rng.randint(2, 99)) if rng.random() < 0.3 else "")
        else:
            w = "".join(rng.choice(_CYR_SYLLABLES) for _ in range(rng.randint(2, 5)))
        i += 1
        if w in seen:
            continue
        seen.add(w)
        vocab.append(w)
    return vocab


_TEMPLATES = [
    # 0: plain body (fallback branch)
    "<html><head><title>{title}</title></head><body><p>{body}</p></body></html>",
    # 1: article container
    "<html><head><title>{title}</title><style>p {{color: red}}</style></head>"
    "<body><nav>Главная Ссылки Навигация</nav><article><h1>{title}</h1>"
    "<p>{body}</p></article><footer>контакты подвал</footer></body></html>",
    # 2: main container with script noise
    "<html><head><title>{title}</title></head><body>"
    "<script>var x = 'DO NOT INDEX';</script><main><p>{body}</p></main>"
    "<aside>реклама сбоку</aside></body></html>",
    # 3: .content div
    "<html><head><title>{title}</title></head><body><header>шапка сайта</header>"
    '<div class="content wrapper"><p>{body}</p></div></body></html>',
    # 4: #content div
    '<html><head><title>{title}</title></head><body><div id="content">'
    "<p>{body}</p></div><footer>footer text here</footer></body></html>",
    # 5: .post-content with entities and multibyte edges
    "<html><head><title>{title}</title></head><body>"
    '<div class="post-content"><p>{body} &amp; ещё &lt;текст&gt;</p></div>'
    "</body></html>",
    # 6: Wikipedia-style (mw-content-text is NOT in the generic selector
    # list → falls through to body; toc text survives, as the generic
    # reference algorithm would keep it)
    "<html><head><title>{title} — Википедия</title></head><body>"
    '<div id="mw-content-text"><div class="toc">Содержание 1 2 3</div>'
    "<p>{body}</p></div></body></html>",
]


def generate_pages_pdf(
    n_docs: int = 1000,
    seed: int = 42,
    vocab_size: int = 4000,
    null_text_frac: float = 0.2,
    dup_url_frac: float = 0.02,
    norm_dup_frac: float = 0.02,
) -> pd.DataFrame:
    """Deterministic pandas DataFrame with the `pages` schema."""
    rng = np.random.default_rng(seed)
    pyrng = random.Random(seed + 1)
    vocab = np.array(build_vocab(vocab_size, seed), dtype=object)

    # Zipf s≈1.0 over ranks 1..V
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    probs = 1.0 / ranks
    probs /= probs.sum()

    # log-normal doc length around ~120 tokens (test scale; the shape,
    # not the size, is what matters — reference avg ~1.5k terms/doc)
    lens = np.clip(rng.lognormal(mean=4.4, sigma=0.6, size=n_docs), 10, 4000).astype(int)

    base_ts = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)
    rows = []
    for i in range(n_docs):
        words = rng.choice(vocab, size=lens[i], p=probs)
        body = " ".join(words.tolist())
        title_words = rng.choice(vocab, size=3, p=probs)
        title = " ".join(title_words.tolist()).capitalize()
        tpl = _TEMPLATES[i % len(_TEMPLATES)]
        html = tpl.format(title=title, body=body).encode("utf-8")
        _, text = extract_html(html)
        url = f"https://example.org/wiki/doc{i:06d}"
        ts = base_ts + _dt.timedelta(seconds=i)
        give_text: Optional[str] = None if pyrng.random() < null_text_frac else text
        rows.append((url, ts, html, give_text, "ru"))
        if pyrng.random() < dup_url_frac:
            # duplicate url, later warc_ts, different html → dedup must keep first
            rows.append(
                (url, ts + _dt.timedelta(days=1),
                 _TEMPLATES[0].format(title="dup", body="duplicate page " * 30).encode("utf-8"),
                 None, "ru")
            )
        if pyrng.random() < norm_dup_frac:
            # same page behind a fragment/case url variant: E12
            # normalization (defrag + lowercase) must collapse it
            variant = (
                url.replace("doc", "DOC") if pyrng.random() < 0.5
                else url + "#Section_2"
            )
            rows.append(
                (variant, ts + _dt.timedelta(hours=1),
                 _TEMPLATES[0].format(title="normdup", body="fragment variant " * 30).encode("utf-8"),
                 None, "ru")
            )
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    return pdf


def pages_spark_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )


def pages_df(spark, n_docs: int = 1000, seed: int = 42, **kw):
    """Synthetic pages as a Spark DataFrame (Arrow-backed createDataFrame)."""
    pdf = generate_pages_pdf(n_docs=n_docs, seed=seed, **kw)
    return spark.createDataFrame(pdf, schema=pages_spark_schema())


def text_file_pages(spark, path: str):
    """S6 (boolean_index/src/index_builder.cpp:92-151): one NON-EMPTY
    line = one document; title ``Document N`` and url
    ``file://{path}?line=N`` with N the 1-based line ordinal (the
    reference uses the post-increment doc id in both). Returns a
    pages-shaped DataFrame ready for ``build_index``.

    Divergences recorded vs the reference's ``file://{path}#{N}``:
    (a) the ordinal lives in a QUERY parameter, not a fragment — the
    engine's default E12 URL normalization defrags urls before dedup,
    and fragment-keyed synthetic docs would silently collapse to one
    (the reference never normalizes its text-file urls, but relying on
    every caller to flip ``normalize_urls=False`` is the footgun);
    (b) it is zero-padded to 9 digits so lexicographic url order ==
    line order (doc_id = url rank, SURVEY §7.1; unpadded ``10`` sorts
    before ``2``). Line ordinals use the two-pass per-partition-offset
    scheme over the text scan's natural split order — file splits are
    deterministic byte ranges (NOT sampled like repartitionByRange),
    so the two passes see identical partitioning without a persist."""
    from pyspark.sql import functions as F

    from search_engine_spark.operators.index_build import (
        _add_partition_offset_ids,
    )

    lines = spark.read.text(path).filter(F.col("value") != "")
    numbered = _add_partition_offset_ids(spark, lines, col_name="_ord")
    # '%' in the filesystem path would corrupt the format spec (ADVICE
    # r2): escape it before embedding the path in the template
    path_tpl = path.replace("%", "%%")
    out = numbered.select(
        F.format_string(
            f"file://{path_tpl}?line=%09d", F.col("_ord") + 1
        ).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("value").alias("text"),
        F.lit("").alias("lang"),
        F.format_string("Document %d", F.col("_ord") + 1).alias("title"),
    )
    return out


def upsert_pages(base, updates):
    """S4 (database_handler.py:72-118 — Mongo upsert by url) as a
    MERGE-shaped DataFrame op: rows whose url exists in ``updates``
    take the update row; new urls append. With an Iceberg catalog this
    is `MERGE INTO pages USING updates ON url`; on plain parquet the
    caller writes the returned frame as the next snapshot.

    Implementation: anti-join (cheap, shuffle on url) + unionByName —
    no window, no full sort; at 10^12 rows both sides hash-partition on
    url and the anti-join prunes with a broadcast when updates is small.
    """
    from pyspark.sql import functions as F

    kept = base.join(updates.select("url"), "url", "left_anti")
    return kept.unionByName(updates.select(*kept.columns))
