"""Truncation "stemmer" — the standalone T7 operator, reference parity.

The reference ships a standalone byte-truncation stub
(``cpp_modules/stemmer/src/stemmer.cpp:7-30``) that is NOT referenced by
the index or search modules (SURVEY.md §0 fact 2); only the stemmer CLI
and its tests use it. Likewise here: no index or query path stems.

Semantics (byte-oriented, like ``ds::String``):
* len(bytes) < 3  -> ASCII-lowercased word unchanged
* otherwise lowercase (ASCII-only), then
  len > 6 -> drop last 2 bytes; elif len > 4 ... but note the outer
  guard ``size() > 5``: a 5-byte word is returned unchanged, a 6-byte
  word loses 1 byte, 7+ lose 2.
"""

from __future__ import annotations

from search_engine_spark.functions.tokenizer import _LOWER_TABLE


def stem_bytes(word: bytes) -> bytes:
    w = word.translate(_LOWER_TABLE)
    n = len(w)
    if n < 3 or n <= 5:
        return w
    if n > 6:
        return w[: n - 2]
    return w[: n - 1]  # n == 6


def stem_text_token(token: str) -> str:
    return stem_bytes(token.encode("utf-8")).decode("utf-8", errors="replace")
