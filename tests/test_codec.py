"""Codec round-trip property tests (FIXTURES.md §5)."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.functions.codec import (
    bm25_idf, bm25_stf, bm25_stf_col, build_blocks,
    decode_block, decode_gaps, encode_gaps, vb_decode, vb_decode_many,
    vb_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(values):
    assert vb_decode(vb_encode(values)).tolist() == values


@given(
    st.lists(st.integers(min_value=1, max_value=10_000), min_size=1, max_size=400)
)
@settings(max_examples=100, deadline=None)
def test_gap_roundtrip(gaps):
    doc_ids = np.cumsum(np.array(gaps, dtype=np.int64))
    assert decode_gaps(encode_gaps(doc_ids)).tolist() == doc_ids.tolist()


def test_empty():
    assert vb_decode(b"").tolist() == []
    assert encode_gaps(np.array([], dtype=np.int64)) == b""


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**40), max_size=40),
        max_size=30,
    )
)
@settings(max_examples=100, deadline=None)
def test_vb_decode_many_matches_per_payload(seqs):
    payloads = [vb_encode(v) for v in seqs]
    assert [a.tolist() for a in vb_decode_many(payloads)] == seqs
    assert [a.tolist() for a in vb_decode_many(payloads, prefix_sum=True)] == [
        decode_gaps(p).tolist() for p in payloads
    ]


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10_000),     # tf
            st.integers(min_value=1, max_value=1_000_000),  # doc_len
        ),
        min_size=1,
        max_size=40,
    ),
    st.floats(min_value=0.5, max_value=1e5),  # avgdl
    st.floats(min_value=0.0, max_value=3.0),  # k1
    st.floats(min_value=0.0, max_value=1.0),  # b
)
@settings(max_examples=15, deadline=None)
def test_bm25_stf_col_bit_identical_to_numpy(spark, rows, avgdl, k1, b):
    """The JVM Column form of the BM25 tf factor equals the numpy form
    bit for bit — batch scores are computed by the former and block
    max_score bounds by the latter."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "tf int, dl int")
    got = [
        r[0]
        for r in df.select(
            bm25_stf_col(F.col("tf"), F.col("dl"), avgdl, k1, b)
        ).collect()
    ]
    tf, dl = np.array(rows, dtype=np.int64).T
    assert got == bm25_stf(tf, dl, avgdl, k1, b).tolist()


@given(
    st.integers(min_value=1, max_value=10**12).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.lists(st.integers(min_value=1, max_value=n), min_size=1,
                     max_size=40),
        )
    )
)
@settings(max_examples=15, deadline=None)
def test_bm25_idf_math_and_column_forms(n_dfs):
    """``bm25_idf`` is the exact ``math.log`` formula that block
    ``max_score`` bounds are built with. It has no Column form: every
    scorer passes its value to the JVM as a literal."""
    n, dfs = n_dfs
    want = [bm25_idf(n, d) for d in dfs]
    assert want == [math.log((n - d + 0.5) / (d + 0.5) + 1.0) for d in dfs]


@given(
    st.integers(min_value=1, max_value=500),  # n postings
    st.integers(min_value=1, max_value=64),   # block size
    st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=50, deadline=None)
def test_block_roundtrip_and_maxscore_bound(n, block_size, seed):
    rng = np.random.default_rng(seed)
    doc_ids = np.cumsum(rng.geometric(0.01, size=n).astype(np.int64))
    tfs = rng.integers(1, 1000, size=n).astype(np.int64)
    doc_lens = rng.integers(10, 5000, size=n).astype(np.int64)
    avgdl, k1, b = 800.0, 1.2, 0.75

    blocks = list(build_blocks(doc_ids, tfs, doc_lens, avgdl, k1, b, block_size))
    got_docs, got_tfs, got_dls = [], [], []
    for seq, cnt, mn, mx, max_tf, max_stf, gaps, tfb, dlb in blocks:
        d, t, dl = decode_block(gaps, tfb, dlb)
        assert len(d) == cnt == len(t) == len(dl)
        assert d[0] == mn and d[-1] == mx
        assert t.max() <= max_tf
        stf = bm25_stf(t, dl, avgdl, k1, b)
        # block-max bound is exact: >= every contained score factor
        assert (stf <= max_stf + 1e-12).all()
        got_docs.extend(d.tolist())
        got_tfs.extend(t.tolist())
        got_dls.extend(dl.tolist())
    assert got_docs == doc_ids.tolist()
    assert got_tfs == tfs.tolist()
    assert got_dls == doc_lens.tolist()


@given(
    st.lists(st.integers(min_value=0, max_value=2**62), min_size=0,
             max_size=200)
)
@settings(max_examples=200, deadline=None)
def test_vb_encode_arr_matches_scalar(vals):
    from search_engine_spark.functions.codec import vb_encode, vb_encode_arr

    payload, nb = vb_encode_arr(np.array(vals, dtype=np.int64))
    assert payload == vb_encode(vals)
    # per-value byte counts slice the payload back into the per-value
    # encodings (the batch-builder contract)
    ends = np.cumsum(nb)
    starts = ends - nb
    for v, s, e in zip(vals, starts, ends):
        assert payload[s:e] == vb_encode([v])


@given(st.integers(min_value=0, max_value=2**31))
@settings(max_examples=25, deadline=None)
def test_block_builder_batch_matches_legacy(seed):
    """The vectorized _block_builder emits rows byte-identical to the
    legacy per-group loop (same metadata, same varbyte payloads, same
    float bits for max_stf/max_score)."""
    import math

    import pandas as pd

    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.index_build import _block_builder

    rng = np.random.default_rng(seed)
    cfg = EngineConfig(block_size=int(rng.integers(1, 9)))
    n_docs, avgdl = 500, 55.0
    rows_in = []
    for t in range(int(rng.integers(1, 12))):
        term = f"t{t:03d}"
        for salt in sorted(rng.choice(8, size=int(rng.integers(1, 3)),
                                      replace=False).tolist()):
            ids = np.cumsum(rng.geometric(0.05,
                                          size=int(rng.integers(1, 40))))
            df = float(rng.integers(1, 200)) if salt or rng.random() < .5 \
                else float("nan")
            for d in ids:
                rows_in.append((term, salt, int(d),
                                int(rng.integers(1, 9)),
                                int(rng.integers(10, 200)), df))
    pdf = pd.DataFrame(
        rows_in, columns=["term", "salt", "doc_id", "tf", "doc_len", "df"]
    )

    def legacy(pdf):
        out = []
        for (term, salt), g in pdf.groupby(["term", "salt"], sort=False):
            df = g["df"].iloc[0]
            dfv = int(df) if not pd.isna(df) else len(g)
            idf = math.log((n_docs - dfv + 0.5) / (dfv + 0.5) + 1.0)
            for seq, cnt, mn, mx, mtf, mstf, gaps, tfb, dlb in build_blocks(
                g["doc_id"].to_numpy(), g["tf"].to_numpy(),
                g["doc_len"].to_numpy(), avgdl, cfg.k1, cfg.b,
                cfg.block_size,
            ):
                out.append((term, int(salt) * (1 << 20) + seq, cnt, mn, mx,
                            mtf, mstf, idf * mstf, gaps, tfb, dlb))
        return out

    want = legacy(pdf)
    fn = _block_builder(cfg, n_docs, avgdl)
    got = []
    for out_pdf in fn(iter([pdf])):
        got.extend(map(tuple, out_pdf.itertuples(index=False)))
    assert got == want
    # same result when the partition arrives as two Arrow batches split
    # mid-group (exercises the tail-carry path)
    cut = int(rng.integers(0, len(pdf) + 1))
    fn2 = _block_builder(cfg, n_docs, avgdl)
    got2 = []
    for out_pdf in fn2(iter([pdf.iloc[:cut], pdf.iloc[cut:]])):
        got2.extend(map(tuple, out_pdf.itertuples(index=False)))
    assert got2 == want
