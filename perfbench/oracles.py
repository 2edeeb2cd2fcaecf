"""Output checks: every measured operation is compared with a
driver-side model, and a mismatch counts as a failed operation."""

from __future__ import annotations

import math
from typing import Dict, Iterable, List, Sequence, Tuple

import pyarrow.parquet as pq

from search_engine_spark.functions.html_extract import extract_html
from search_engine_spark.oracle.refmodel import RefIndex


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def ref_rows(pdf) -> List[dict]:
    """RefIndex rows for a pages frame, extracting text where it is
    null (as the engine's docs stage does)."""
    rows = []
    for url, ts, html, text in zip(pdf["url"], pdf["warc_ts"], pdf["html"],
                                   pdf["text"]):
        title, extracted = extract_html(html)
        rows.append({"url": url, "warc_ts": ts, "title": title,
                     "text": extracted if text is None else text})
    return rows


def build_ok(store, oracle: RefIndex) -> bool:
    """The integrity checks of ``validate_index`` (dense unique doc ids,
    unique urls, no orphan postings, dictionary df equal to the postings'
    distinct docs, block doc counts summing to df, sane block ranges),
    plus docmeta and the dictionary's ``(term, df, cf)`` equal to the
    oracle's. Read with pyarrow on the driver, so the check adds no
    Spark jobs to the run."""
    def read(stage, cols):
        return pq.read_table(store.stage_path(stage), columns=cols).to_pandas()

    n = oracle.n_docs
    meta = read("docmeta", ["doc_id", "url", "doc_len"]).sort_values("doc_id")
    want_meta = [(d.doc_id, d.url, d.doc_len) for d in oracle.docs]
    if list(meta.itertuples(index=False, name=None)) != want_meta:
        return False
    dictionary = read("dictionary", ["term", "df", "cf"])
    got = {t: (df, cf) for t, df, cf in dictionary.itertuples(index=False)}
    if len(got) != len(dictionary) or got != {
            t: (oracle.df(t), oracle.cf(t)) for t in oracle.postings}:
        return False
    postings = read("postings", ["term", "doc_id"])
    if not postings["doc_id"].between(0, n - 1).all():
        return False
    if postings.groupby("term")["doc_id"].nunique().to_dict() != {
            t: df for t, (df, _) in got.items()}:
        return False
    blocks = read("blocks", ["term", "doc_count", "min_doc", "max_doc"])
    if ((blocks["min_doc"] > blocks["max_doc"]) | (blocks["doc_count"] <= 0)
            | (blocks["max_doc"] >= n)).any():
        return False
    return blocks.groupby("term")["doc_count"].sum().to_dict() == {
        t: df for t, (df, _) in got.items()}


def expected_topk(oracle: RefIndex, query: str, k: int,
                  url_prefix: str | None) -> List[Tuple[int, float]]:
    if url_prefix is None:
        return oracle.search(query, k)
    ranked = oracle.search(query, oracle.n_docs)
    return [(d, s) for d, s in ranked
            if oracle.docs[d].url.startswith(url_prefix)][:k]


def topk_ok(got: Sequence, want: Sequence[Tuple[int, float]],
            oracle: RefIndex) -> bool:
    """Batch engine: same ids, same order, scores within 1e-9, and the
    enriched url is the oracle's url for that id."""
    if [r["doc_id"] for r in got] != [d for d, _ in want]:
        return False
    return all(
        _close(r["score"], s) and r["url"] == oracle.docs[d].url
        for r, (d, s) in zip(got, want)
    )


def stream_topk_ok(got: Sequence[Tuple[str, float]], oracle: RefIndex,
                   query: str, k: int) -> bool:
    """Streaming engine, compared by url (stream doc ids follow arrival
    order, oracle ids follow url order, so ties at the k-th score may
    legitimately pick different urls)."""
    ranked = oracle.search(query, oracle.n_docs)
    ref = {oracle.docs[d].url: s for d, s in ranked}
    if len(got) != min(k, len(ranked)):
        return False
    if any(u not in ref or not _close(s, ref[u]) for u, s in got):
        return False
    if any(a[1] < b[1] for a, b in zip(got, got[1:])):
        return False
    if not got:
        return True
    cut = got[-1][1]
    must = {u for u, s in ref.items() if s > cut and not _close(s, cut)}
    return must <= {u for u, _ in got}


# -- dedup ----------------------------------------------------------------

def _shingles(text: str, n: int) -> set:
    toks = [w for w in text.split() if 2 <= len(w) <= 50]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def exact_pairs(rows: Iterable[Tuple[int, str]], n: int,
                threshold: float) -> Dict[Tuple[int, int], float]:
    """Driver-side exact n-gram Jaccard pairs (id_a < id_b)."""
    sh = {i: _shingles(t, n) for i, t in rows}
    inverted: Dict[str, List[int]] = {}
    for i in sorted(sh):
        for s in sh[i]:
            inverted.setdefault(s, []).append(i)
    cand = {(a, b) for ids in inverted.values()
            for x, a in enumerate(ids) for b in ids[x + 1:]}
    out = {}
    for a, b in cand:
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= threshold:
            out[(a, b)] = j
    return out


def pairs_ok(got: Dict[Tuple[int, int], float],
             want: Dict[Tuple[int, int], float], subset: bool = False) -> bool:
    """Exact pair set (or a subset of it), Jaccard values within 1e-9."""
    keys_ok = set(got) <= set(want) if subset else set(got) == set(want)
    return keys_ok and all(_close(v, want[p]) for p, v in got.items())


def canonical_ok(got: Sequence, ids: Iterable[int],
                 pairs: Iterable[Tuple[int, int]]) -> bool:
    """One row per connected component of the pair graph, with its
    member count, keeping one of its members."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    comps: Dict[int, set] = {}
    for i in parent:
        comps.setdefault(find(i), set()).add(i)
    by_member = {m: c for c in comps.values() for m in c}
    if len(got) != len(comps):
        return False
    seen = set()
    for r in got:
        c = by_member.get(r["keep_id"])
        if c is None or r["n_members"] != len(c) or id(c) in seen:
            return False
        seen.add(id(c))
    return True
