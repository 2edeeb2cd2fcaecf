"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the benchmark seed; the engine
only ever sees the generated rows. Oracle-side helpers (the RefIndex
row shape, driver-side Jaccard) live in ``oracles.py``.
"""

from __future__ import annotations

import random
import re
from typing import Dict, List, Optional, Tuple

import pandas as pd

from search_engine_spark.sources.pages_source import generate_pages_pdf

# ``generate_pages_pdf`` numbers urls doc000000.. under this host for
# every seed; each chunk and the ingest batch get a host of its own so url
# dedup never collapses two logical documents into one.
_GEN_HOST = "https://example.org/"
_DOC_NUM = re.compile(r"doc(\d{6})", re.IGNORECASE)


def _doc_index(url: str) -> int:
    return int(_DOC_NUM.search(url).group(1))


def chunk_host(tag: str, chunk: int) -> str:
    return f"https://{tag}{chunk}.example.org/"


def pages(seed: int, n_docs: int, chunk_docs: int, tag: str) -> pd.DataFrame:
    """``(url, warc_ts, html, text, lang)`` pages, ~20% null text, with
    duplicate and normalisable-duplicate urls. Source doc ``i`` lives
    under host ``chunk_host(tag, i // chunk_docs)``; its duplicate rows
    follow it into the same chunk."""
    pdf = generate_pages_pdf(n_docs=n_docs, seed=seed)
    pdf["url"] = [
        u.replace(_GEN_HOST, chunk_host(tag, _doc_index(u) // chunk_docs), 1)
        for u in pdf["url"]
    ]
    return pdf


# -- query stream -------------------------------------------------------

# the first classes take the distinct block-max routes; "tree" nests an
# OR and a NOT under an AND
QUERY_CLASSES = ("term_head", "and", "or", "tree", "term_tail", "phrase")


class QueryStream:
    """Seeded query stream over the oracle's dictionary.

    Classes rotate in a fixed order so every run sees the same mix.
    Terms are drawn Zipf-wise (rank by df) from the head set (df above
    ``head_df``: block-max pruned routes) or the tail set (full-decode
    routes). Half the draws reuse a term seen earlier in the stream (a
    hit in the engine's term-stats / block-metadata memo), half take a
    term never used before (a miss).

    With ``hosts`` = (tag, n), each "or" query carries a ``meta_filter``
    to one of the n url hosts ``chunk_host(tag, i)``."""

    def __init__(self, oracle, seed: int, head_df: int,
                 hosts: Optional[Tuple[str, int]] = None):
        self.hosts = hosts
        self.rng = random.Random(seed * 7919 + 1)
        by_df = sorted(oracle.postings, key=lambda t: (-oracle.df(t), t))
        self.fresh = {
            "head": [t for t in by_df if oracle.df(t) > head_df],
            "tail": [t for t in by_df if 2 <= oracle.df(t) <= head_df],
        }
        self.used: Dict[str, List[str]] = {"head": [], "tail": []}
        self.docs = oracle.docs
        self.cfg = oracle.cfg
        self.n = 0

    def _zipf(self, terms: List[str]) -> str:
        weights = [1.0 / (r + 1) for r in range(len(terms))]
        return self.rng.choices(terms, weights)[0]

    def _term(self, kind: str) -> str:
        if not (self.used[kind] or self.fresh[kind]):
            kind = "tail" if kind == "head" else "head"
        used, fresh = self.used[kind], self.fresh[kind]
        if used and (not fresh or self.rng.random() < 0.5):
            return self._zipf(used)
        t = self._zipf(fresh)
        fresh.remove(t)
        used.append(t)
        return t

    def _phrase(self) -> str:
        from search_engine_spark.functions.tokenizer import tokenize_text

        while True:
            doc = self.rng.choice(self.docs)
            toks = tokenize_text(doc.text, self.cfg)
            if len(toks) >= 2:
                i = self.rng.randrange(len(toks) - 1)
                return f'"{toks[i]} {toks[i + 1]}"'

    def next(self) -> Tuple[str, str, str | None]:
        """(class, query, url prefix for a meta_filter or None)."""
        cls = QUERY_CLASSES[self.n % len(QUERY_CLASSES)]
        self.n += 1
        h, t = (lambda: self._term("head")), (lambda: self._term("tail"))
        prefix = None
        if cls == "term_head":
            q = h()
        elif cls == "term_tail":
            q = t()
        elif cls == "and":
            q = f"{h()} && {t()}"
        elif cls == "or":
            a, b = h(), h()
            q = f"{a} || {b}" if a != b else f"{a} || {t()}"
            if self.hosts:
                tag, n = self.hosts
                prefix = chunk_host(tag, self.rng.randrange(n))
        elif cls == "tree":
            q = f"({h()} || {t()}) && !{t()}"
        else:
            q = self._phrase()
        return cls, q, prefix


# -- dedup corpus ---------------------------------------------------------

def dedup_corpus(seed: int, n_docs: int, n_planted: int) -> List[Tuple[int, str]]:
    """``(doc_id, text)``: lowercase ASCII words joined by single spaces
    (so the engine's JVM tokenizer equals ``str.split``), plus
    ``n_planted`` near-duplicate copies that each change one or two
    words of a random source doc."""
    rng = random.Random(seed * 31 + 5)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({
        "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        for _ in range(4000)
    })
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(60, 160))))
        for i in range(n_docs)
    ]
    for j in range(n_planted):
        words = rows[rng.randrange(n_docs)][1].split()
        for _ in range(rng.randint(1, 2)):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        rows.append((n_docs + j, " ".join(words)))
    return rows
