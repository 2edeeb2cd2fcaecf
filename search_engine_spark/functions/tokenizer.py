"""Byte-exact tokenizer, vectorized for pandas/Arrow batches.

Clean-room reimplementation of the reference tokenizer semantics
(``cpp_modules/tokenizer/src/tokenizer.cpp:142-280``, delimiters at
``tokenizer.h:32-44``), operating on UTF-8 *bytes*:

* A **delimiter** is any ASCII whitespace (``isspace``: 0x09-0x0D, 0x20)
  or ASCII punctuation (ranges 33-47, 58-64, 91-96, 123-126). Tokens are
  maximal runs of non-delimiter bytes — note that ``'`` and ``-`` are
  delimiters too, so the normalize-step "keep inner apostrophe/hyphen"
  branch of the reference is unreachable in the document path.
* **Normalization** = ASCII-only lowercase (C-locale ``tolower``,
  ``ds_string.h:395-406``): bytes >= 0x80 (e.g. Cyrillic UTF-8) keep
  their case. Digits kept (``remove_numbers: false``, config.yaml:57).
* **Length bounds in bytes**: keep 2 <= len <= 50. A run longer than 50
  bytes is flushed every time it reaches **51** bytes (the overflow
  flush skips the max check, ``tokenizer.cpp:174-181``), producing
  51-byte segments; the final remainder is kept iff 2 <= len <= 50.
  Multi-byte UTF-8 may be split mid-character, exactly as the
  byte-oriented reference does.
* **Stopwords**: the reference's hardcoded 160-word lowercase Russian
  list (``tokenizer.cpp:17-39``), matched on normalized bytes — so a
  capitalized Cyrillic stopword is NOT filtered (ASCII-only folding).

Positions: the reference records the *byte offset* of the raw token
start (``tokenizer.cpp:198-280``). We emit the **token ordinal** as the
position used for phrase/proximity (the documented intent,
``report/main.tex:788-795``; the reference's byte-offset phrase check is
de-facto broken — SURVEY.md §2.6 V5) and can also emit byte offsets.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Iterator, List, Tuple

import pandas as pd

from search_engine_spark.config import DEFAULT_CONFIG, EngineConfig

# The reference's hardcoded Russian stopword list (tokenizer.cpp:17-39),
# stored lowercase; membership is tested on normalized (ASCII-lowered) bytes.
RUSSIAN_STOPWORDS: Tuple[str, ...] = (
    "и", "в", "во", "не", "что", "он", "на", "я", "с", "со", "как", "а",
    "то", "все", "она", "так", "его", "но", "да", "ты", "к", "у", "же",
    "вы", "за", "бы", "по", "только", "ее", "мне", "было", "вот", "от",
    "меня", "еще", "нет", "о", "из", "ему", "теперь", "когда", "даже",
    "ну", "ли", "если", "уже", "или", "ни", "быть", "был", "него", "до",
    "вас", "нибудь", "опять", "уж", "вам", "ведь", "там", "потом", "себя",
    "ничего", "ей", "может", "они", "тут", "где", "есть", "надо", "ней",
    "для", "мы", "тебя", "их", "чем", "была", "сам", "чтоб", "без", "будто",
    "чего", "раз", "тоже", "себе", "под", "будет", "ж", "тогда", "кто",
    "этот", "того", "потому", "этого", "какой", "совсем", "ним", "здесь",
    "этом", "один", "почти", "мой", "тем", "чтобы", "нее", "сейчас", "были",
    "куда", "зачем", "всех", "никогда", "можно", "при", "наконец", "два",
    "об", "другой", "хоть", "после", "над", "больше", "тот", "через",
    "эти", "нас", "про", "всего", "них", "какая", "много", "разве", "три",
    "эту", "моя", "впрочем", "хорошо", "свою", "этой", "перед", "иногда",
    "лучше", "чуть", "том", "нельзя", "такой", "им", "более", "всегда",
    "конечно", "всю", "между",
)

STOPWORD_BYTES = frozenset(w.encode("utf-8") for w in RUSSIAN_STOPWORDS)

# Delimiter byte class: isspace (\t\n\v\f\r, space) + ASCII punct ranges.
_DELIM_CLASS = rb"\t\n\x0b\x0c\r !-/:-@\[-`{-~"
TOKEN_RUN_RE = re.compile(rb"[^" + _DELIM_CLASS + rb"]+")


@lru_cache(maxsize=8)
def oversized_run_re(hi: int) -> "re.Pattern[bytes]":
    """Matches iff the buffer contains a non-delimiter run longer than
    ``hi`` bytes (the overflow-chunking trigger) — a cheap C-level
    ``search`` deciding which tokenizing regex a document needs."""
    return re.compile(rb"[^%s]{%d}" % (_DELIM_CLASS, hi + 1))


@lru_cache(maxsize=8)
def chunked_run_re(lo: int, hi: int) -> "re.Pattern[bytes]":
    """Regex reproducing the reference's overflow chunking on a folded
    buffer (fast path only): runs > ``hi`` bytes flush in ``hi+1``-byte
    pieces (tokenizer.cpp:174 triggers at size > max), then a bounded
    ``lo..hi`` tail; ordered alternation makes findall emit exactly that
    chunk stream C-side, with no per-token Python. Tokens shorter than
    ``lo`` never match and are skipped, mirroring the length filter;
    stopword removal must still happen downstream."""
    seg = hi + 1
    lo = max(lo, 1)  # {0,hi} would match empty at every position
    return re.compile(
        rb"[^%s]{%d}|[^%s]{%d,%d}"
        % (_DELIM_CLASS, seg, _DELIM_CLASS, lo, hi)
    )

# ASCII-only lowercase translation table (C-locale tolower).
_LOWER_TABLE = bytes(
    b + 32 if 0x41 <= b <= 0x5A else b for b in range(256)
)

# ASCII digits, for the (off-by-default) remove_numbers option.
_DIGIT_DELETE = bytes(range(0x30, 0x3A))


def _norm(run: bytes, cfg: EngineConfig) -> bytes:
    """normalize_token (tokenizer.cpp:96-140) for document runs.

    Runs contain no punctuation (punct is a delimiter), so only case
    folding and optional digit removal apply.
    """
    if cfg.case_folding:
        run = run.translate(_LOWER_TABLE)
    if cfg.remove_numbers:
        run = run.translate(None, _DIGIT_DELETE)
    return run


def tokenize_bytes(data: bytes, cfg: EngineConfig = DEFAULT_CONFIG) -> List[bytes]:
    """Tokenize UTF-8 bytes; returns normalized token byte strings.

    Fast path (the default config): ASCII ``tolower`` is byte-wise,
    length-preserving, and maps non-delimiters to non-delimiters, so
    folding the WHOLE buffer once and ``findall``-ing runs yields
    byte-identical output to the reference's chunk-then-normalize order
    (chunk∘norm ≡ norm∘chunk for a position-independent, length-
    preserving byte map) while dropping the per-token translate +
    match-object overhead (~1.7× kernel throughput, parity pinned by
    the property tests)."""
    out: List[bytes] = []
    # lo clamps to 1: an empty token is never emitted (keeps the scalar
    # path aligned with batch_token_codes' chunked regex at lo=0, where
    # a run of exactly seg bytes would otherwise yield an empty tail)
    lo, hi = max(cfg.min_token_bytes, 1), cfg.max_token_bytes
    seg = hi + 1  # overflow flush size (tokenizer.cpp:174 triggers at size > max)
    if cfg.case_folding and not cfg.remove_numbers:
        sw = STOPWORD_BYTES
        for raw in TOKEN_RUN_RE.findall(data.translate(_LOWER_TABLE)):
            n = len(raw)
            if n <= hi:
                if n >= lo and raw not in sw:
                    out.append(raw)
            else:
                i = 0
                while n - i > hi:
                    t = raw[i : i + seg]
                    if t not in sw:
                        out.append(t)
                    i += seg
                t = raw[i:]
                if lo <= len(t) <= hi and t not in sw:
                    out.append(t)
        return out
    # general path: digit removal shortens tokens AFTER chunking, so
    # normalization must stay per-chunk (reference order)
    for m in TOKEN_RUN_RE.finditer(data):
        raw = m.group()  # chunk the RAW bytes, normalize per chunk (reference order)
        n = len(raw)
        if n <= hi:
            t = _norm(raw, cfg)
            if lo <= len(t) <= hi and t not in STOPWORD_BYTES:
                out.append(t)
        else:
            i = 0
            while n - i > hi:
                t = _norm(raw[i : i + seg], cfg)
                if len(t) >= lo and t not in STOPWORD_BYTES:
                    out.append(t)
                i += seg
            t = _norm(raw[i:], cfg)
            if lo <= len(t) <= hi and t not in STOPWORD_BYTES:
                out.append(t)
    return out


def tokenize_bytes_with_offsets(
    data: bytes, cfg: EngineConfig = DEFAULT_CONFIG
) -> List[Tuple[bytes, int]]:
    """Tokenize returning (token, byte_offset_of_raw_token_start) pairs
    (tokenize_with_positions, tokenizer.cpp:198-280)."""
    out: List[Tuple[bytes, int]] = []
    lo, hi = max(cfg.min_token_bytes, 1), cfg.max_token_bytes  # no empty tokens
    seg = hi + 1
    for m in TOKEN_RUN_RE.finditer(data):
        raw = m.group()
        start = m.start()
        n = len(raw)
        if n <= hi:
            t = _norm(raw, cfg)
            if lo <= len(t) <= hi and t not in STOPWORD_BYTES:
                out.append((t, start))
        else:
            i = 0
            while n - i > hi:
                t = _norm(raw[i : i + seg], cfg)
                if len(t) >= lo and t not in STOPWORD_BYTES:
                    out.append((t, start + i))
                i += seg
            t = _norm(raw[i:], cfg)
            if lo <= len(t) <= hi and t not in STOPWORD_BYTES:
                out.append((t, start + i))
    return out


def _decode(tok: bytes) -> str:
    # Byte-oriented chunking may split multi-byte UTF-8 (reference parity);
    # 'replace' keeps such tokens representable as Spark strings.
    return tok.decode("utf-8", errors="replace")


def tokenize_text(text: str, cfg: EngineConfig = DEFAULT_CONFIG) -> List[str]:
    """Tokenize a Python str (UTF-8 byte semantics inside)."""
    if not text:
        return []
    return [_decode(t) for t in tokenize_bytes(text.encode("utf-8"), cfg)]


def batch_token_codes(texts, cfg: EngineConfig = DEFAULT_CONFIG):
    """Factorized byte-exact tokenization of a whole Arrow batch.

    Returns ``(codes, uniques, lens, keep_u)``:

    * ``codes`` — int64 token-code per token, in document order
    * ``uniques`` — the distinct token byte-strings (decode these once
      with :func:`_decode`; vocab-sized, not token-sized)
    * ``lens`` — int64 tokens-per-document (pre-filter)
    * ``keep_u`` — bool mask over ``uniques`` of tokens surviving the
      length/stopword filter, or ``None`` when the stream is already
      filtered (the general config path)

    Fast path (default config): per-doc C-level ``findall`` on the
    folded buffer with NO per-token Python; filtering is deferred to
    the uniques. Docs containing an oversized (> max bytes) run —
    detected by a cheap pre-search — tokenize with
    :func:`chunked_run_re`, which reproduces the reference's
    ``hi+1``-byte flush chunking exactly; all other docs use the plain
    (2× faster) run regex."""
    import numpy as np

    n = len(texts)
    fast = cfg.case_folding and not cfg.remove_numbers
    lo, hi = max(cfg.min_token_bytes, 1), cfg.max_token_bytes
    seg = hi + 1

    def flatten(toks_per_doc):
        lens = np.fromiter(
            (len(t) for t in toks_per_doc), dtype=np.int64, count=n
        )
        total = int(lens.sum())
        flat = np.empty(total, dtype=object)
        pos = 0
        for toks in toks_per_doc:
            k = len(toks)
            if k:
                flat[pos:pos + k] = toks
                pos += k
        return flat, lens, total

    def not_stop(uniques):
        return np.fromiter(
            (u not in STOPWORD_BYTES for u in uniques),
            dtype=bool, count=len(uniques),
        )

    if fast:
        oversize_re = oversized_run_re(hi)
        chunk_re = chunked_run_re(lo, hi)

        def tok(t):
            if not (isinstance(t, str) and t):
                return []
            b = t.encode("utf-8").translate(_LOWER_TABLE)
            # per-doc regex choice: the chunked alternation is ~2×
            # slower per byte, so only docs that actually contain an
            # oversized run (one C-level search) pay for it
            r = chunk_re if oversize_re.search(b) else TOKEN_RUN_RE
            return r.findall(b)

        flat, lens, total = flatten([tok(t) for t in texts])
        if total == 0:
            return None
        codes, uniques = pd.factorize(flat)
        ulens = np.fromiter(
            (len(u) for u in uniques), dtype=np.int64, count=len(uniques)
        )
        # tokens of exactly seg bytes are mid-chunks of an overflowed
        # run — kept by the reference's flush rule regardless of hi
        keep_u = (
            ((ulens >= lo) & (ulens <= hi)) | (ulens == seg)
        ) & not_stop(uniques)
        return codes, uniques, lens, keep_u

    flat, lens, total = flatten(
        [
            tokenize_bytes(t.encode("utf-8"), cfg)
            if isinstance(t, str) and t
            else []
            for t in texts
        ]
    )
    if total == 0:
        return None
    codes, uniques = pd.factorize(flat)
    return codes, uniques, lens, None


def batch_tokens_lists(texts, cfg: EngineConfig = DEFAULT_CONFIG):
    """Filtered per-doc token lists in flat Arrow-ready form:
    ``(offsets, values)`` with ``offsets`` an int32 array of length
    n+1 (doc i's tokens are ``values[offsets[i]:offsets[i+1]]``) and
    ``values`` an object array of str. One decode per DISTINCT token.
    The single home of the kept-stream boundary math, used by
    analytics.tokens_df."""
    import numpy as np

    n = len(texts)
    out = batch_token_codes(texts, cfg)
    if out is None:
        return np.zeros(n + 1, dtype=np.int32), np.empty(0, dtype=object)
    codes, uniques, lens, keep_u = out
    uniq_str = np.array([_decode(u) for u in uniques], dtype=object)
    ends = np.cumsum(lens)
    if keep_u is not None and not keep_u.all():
        kept = keep_u[codes]
        codes = codes[np.flatnonzero(kept)]
        cs0 = np.concatenate(([0], np.cumsum(kept, dtype=np.int64)))
        offsets = np.concatenate(([0], cs0[ends])).astype(np.int32)
    else:
        offsets = np.concatenate(([0], ends)).astype(np.int32)
    return offsets, uniq_str[codes]


def doc_term_stats(
    text: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> Iterator[Tuple[str, int, List[int]]]:
    """Per-document term aggregation fused with tokenization (B1).

    Yields (term, tf, positions) where positions are token ordinals,
    mirroring InvertedIndex::index_document's per-doc HashTable pass
    (inverted_index.cpp:46-68) but with ordinal positions (documented
    intent for phrase matching).
    """
    agg: dict = {}
    if text:
        for ordinal, tok in enumerate(tokenize_bytes(text.encode("utf-8"), cfg)):
            agg.setdefault(tok, []).append(ordinal)
    for tok, positions in agg.items():
        yield _decode(tok), len(positions), positions
