"""Posting-list compression: delta-gap doc_ids + varbyte, block-max metadata.

The reference *claims* VarByte compression (``report/main.tex:644-650``)
but ships raw uint32 pairs (``inverted_index.cpp:316-319``,
``config.yaml:78`` ``compression: false``). We implement it for real
(north_rule): postings are grouped into blocks of
``EngineConfig.block_size`` postings; within a block doc_ids are
strictly increasing and stored as varbyte(first, gap, gap, ...), tfs as
varbyte. Each block carries skip/prune metadata:

    (min_doc, max_doc, doc_count, max_tf, max_stf)

``max_stf`` is the tf-dependent BM25 factor max over the block's
postings — ``tf / (tf + k1*(1-b+b*dl/avgdl))`` — so the block's true
max score is ``idf(term) * max_stf`` (idf attaches from the dictionary;
block-max WAND upper bounds are exact, not heuristic).

Varbyte: little-endian 7-bit groups, MSB set = continuation.
Encode is plain Python or numpy (build-side, once); decode is
numpy-vectorized over a whole Arrow batch of blocks
(:func:`vb_decode_many`) and runs once per query engine, when its
decoded blocks view is cached — queries then score the decoded arrays
with the Column form :func:`bm25_stf_col` in the JVM.
"""

from __future__ import annotations

import math
from typing import Iterator, List, Sequence, Tuple

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def vb_encode(values: Sequence[int]) -> bytes:
    out = bytearray()
    for v in values:
        v = int(v)
        if v < 0:
            raise ValueError("varbyte encodes non-negative ints only")
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def vb_encode_arr(values: np.ndarray) -> Tuple[bytes, np.ndarray]:
    """Vectorized varbyte encode of an int64 array.

    Returns (payload, n_bytes_per_value) — the per-value byte counts let
    a caller that encoded MANY logical sequences in one call (e.g. every
    block of an Arrow batch) slice the payload back apart with a prefix
    sum. Byte-identical to :func:`vb_encode` (property-tested)."""
    v = np.asarray(values, dtype=np.int64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    if (v < 0).any():
        raise ValueError("varbyte encodes non-negative ints only")
    u = v.astype(np.uint64)
    nb = np.ones(len(u), dtype=np.int64)
    x = u >> np.uint64(7)
    while x.any():
        nb += x > 0
        x >>= np.uint64(7)
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    rem = u.copy()
    for k in range(int(nb.max())):
        mask = nb > k
        byte = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] > k + 1).astype(np.uint8) << 7
        out[starts[mask] + k] = byte | cont
        rem[mask] >>= np.uint64(7)
    return out.tobytes(), nb


def vb_decode(data: bytes) -> np.ndarray:
    """Vectorized varbyte decode -> int64 array."""
    if not data:
        return np.empty(0, dtype=np.int64)
    arr = np.frombuffer(data, dtype=np.uint8)
    payload = (arr & 0x7F).astype(np.int64)
    is_end = arr < 0x80
    # group index for each byte: number of ended groups before it
    group = np.zeros(len(arr), dtype=np.int64)
    group[1:] = np.cumsum(is_end[:-1])
    n_groups = int(is_end.sum())
    # shift within group = byte position - group start position
    starts = np.zeros(n_groups, dtype=np.int64)
    end_pos = np.flatnonzero(is_end)
    starts[1:] = end_pos[:-1] + 1
    shifts = (np.arange(len(arr)) - starts[group]) * 7
    vals = np.zeros(n_groups, dtype=np.int64)
    np.add.at(vals, group, payload << shifts)
    return vals


def vb_decode_many(
    payloads: Sequence[bytes], prefix_sum: bool = False
) -> List[np.ndarray]:
    """Decode many varbyte payloads in one vectorized pass -> one int64
    array per payload. ``prefix_sum`` turns each payload's
    (first, gap, gap, ...) into doc_ids, like :func:`decode_gaps`."""
    if not len(payloads):
        return []
    lens = np.fromiter(map(len, payloads), dtype=np.int64, count=len(payloads))
    raw = b"".join(payloads)
    vals = vb_decode(raw)
    # value offsets per payload: values end at bytes without the MSB
    n_ended = np.zeros(len(raw) + 1, dtype=np.int64)
    np.cumsum(np.frombuffer(raw, dtype=np.uint8) < 0x80, out=n_ended[1:])
    offs = n_ended[np.concatenate(([0], np.cumsum(lens)))]
    if prefix_sum:
        run = np.cumsum(vals)
        start_run = np.concatenate(([0], run))[offs[:-1]]
        vals = run - np.repeat(start_run, np.diff(offs))
    return np.split(vals, offs[1:-1])


def encode_gaps(doc_ids: np.ndarray) -> bytes:
    """Strictly-increasing doc_ids -> varbyte(first, then gaps)."""
    d = np.asarray(doc_ids, dtype=np.int64)
    if len(d) == 0:
        return b""
    gaps = np.empty(len(d), dtype=np.int64)
    gaps[0] = d[0]
    gaps[1:] = np.diff(d)
    if len(d) > 1 and (gaps[1:] <= 0).any():
        raise ValueError("doc_ids must be strictly increasing within a block")
    return vb_encode(gaps.tolist())


def decode_gaps(data: bytes) -> np.ndarray:
    return np.cumsum(vb_decode(data))


def bm25_stf(tf: np.ndarray, doc_len: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    """tf-dependent BM25 factor (score = idf * stf)."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(doc_len, dtype=np.float64)
    denom = tf + k1 * (1.0 - b + b * dl / avgdl)
    return tf / denom


def bm25_stf_col(
    tf: Column, doc_len: Column, avgdl: float, k1: float, b: float
) -> Column:
    """Column form of :func:`bm25_stf`: the same operations in the same
    order, so a JVM-evaluated score is bit-identical to the numpy one."""
    return tf / (tf + F.lit(k1) * (1.0 - b + F.lit(b) * doc_len / F.lit(avgdl)))


def bm25_idf(n: float, df: float) -> float:
    """Lucene-style non-negative BM25 idf over ``n`` docs. ``math.log``:
    the build bakes this value into block ``max_score`` and batch
    queries pass it as a literal, so scores stay bit-identical with
    those bounds."""
    return math.log((n - df + 0.5) / (df + 0.5) + 1.0)


def bm25_idf_col(n: float, df: Column) -> Column:
    """Column form of :func:`bm25_idf`, for scorers that read df from a
    table. JVM ``log`` may differ from ``math.log`` by 1 ulp, so it must
    not score against stored ``max_score`` bounds."""
    return F.log((F.lit(float(n)) - df + 0.5) / (df + 0.5) + 1.0)


def build_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int,
) -> Iterator[Tuple[int, int, int, int, int, float, bytes, bytes, bytes]]:
    """Split one term's (sorted) postings into compressed blocks.

    Yields (seq, doc_count, min_doc, max_doc, max_tf, max_stf,
    doc_gaps, tf_bytes, dl_bytes). Per-posting doc_len travels with the
    block (varbyte, ~1-2 bytes/posting) so query-time scoring is exact
    without a docmeta join.
    """
    n = len(doc_ids)
    for seq, lo in enumerate(range(0, n, block_size)):
        hi = min(lo + block_size, n)
        d = np.asarray(doc_ids[lo:hi], dtype=np.int64)
        t = np.asarray(tfs[lo:hi], dtype=np.int64)
        dl = np.asarray(doc_lens[lo:hi], dtype=np.int64)
        stf = bm25_stf(t, dl, avgdl, k1, b)
        yield (
            seq,
            int(hi - lo),
            int(d[0]),
            int(d[-1]),
            int(t.max()),
            float(stf.max()),
            encode_gaps(d),
            vb_encode(t.tolist()),
            vb_encode(dl.tolist()),
        )


def decode_block(
    doc_gaps: bytes, tf_bytes: bytes, dl_bytes: bytes
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (doc_ids, tfs, doc_lens) int64 arrays."""
    return decode_gaps(doc_gaps), vb_decode(tf_bytes), vb_decode(dl_bytes)
