"""Analytics (Zipf/entropy/Gini) + textstats + multimodal tests."""

import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "aa aa aa aa bb bb cc dd"),
        (1, "aa bb bb cc cc cc dd ee"),
        (2, "aa aa bb cc dd ee ff gg"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _freqs(spark, docs):
    from search_engine_spark.operators.analytics import term_freq

    return term_freq(docs)


def test_term_freq_and_rank(spark, docs):
    from search_engine_spark.operators.analytics import term_freq, zipf_rank_table

    freqs = {r["term"]: r["freq"] for r in term_freq(docs).collect()}
    assert freqs == {"aa": 7, "bb": 5, "cc": 5, "dd": 3, "ee": 2, "ff": 1,
                     "gg": 1}
    ranked = zipf_rank_table(term_freq(docs)).collect()
    assert [(r["rank"], r["term"]) for r in ranked[:3]] == [
        (1, "aa"), (2, "bb"), (3, "cc")  # freq desc, term asc tie-break
    ]


def test_entropy_gini_coverage(spark, docs):
    from search_engine_spark.operators.analytics import (
        coverage,
        entropy,
        gini,
        term_freq,
        zipf_rank_table,
    )

    freqs = term_freq(docs)
    counts = [r["freq"] for r in freqs.collect()]
    tot = sum(counts)
    want_h = -sum(c / tot * math.log2(c / tot) for c in counts)
    got_h = entropy(freqs).collect()[0]["entropy"]
    assert got_h == pytest.approx(want_h)

    # Gini against the direct formula (freq asc, term asc)
    rows = sorted(freqs.collect(), key=lambda r: (r["freq"], r["term"]))
    n = len(rows)
    want_g = sum((2 * (i + 1) - n - 1) * r["freq"] for i, r in enumerate(rows))
    want_g /= n * tot
    got_g = gini(freqs).collect()[0]["gini"]
    assert got_g == pytest.approx(want_g)

    cov = coverage(zipf_rank_table(freqs)).collect()[0]
    assert cov["top10_coverage"] == pytest.approx(1.0)  # only 7 terms


def test_zipf_fit_on_exact_power_law(spark):
    from search_engine_spark.operators.analytics import zipf_fit

    # freq = 1000 / rank^1.2 exactly → fit must recover (C, s), R²=1
    rows = [(f"t{r:03d}", float(1000.0 / r ** 1.2)) for r in range(1, 51)]
    freqs = spark.createDataFrame(rows, "term string, freq double")
    from search_engine_spark.operators.analytics import zipf_rank_table

    fit = zipf_fit(zipf_rank_table(freqs)).collect()[0]
    assert fit["s"] == pytest.approx(1.2, rel=1e-9)
    assert fit["c"] == pytest.approx(1000.0, rel=1e-9)
    assert fit["r2"] == pytest.approx(1.0, abs=1e-12)


def test_heaps_law_known_values():
    from search_engine_spark.operators.analytics import heaps_law

    assert heaps_law(10_000) == pytest.approx(1000.0)  # 10 * 10_000^0.5
    assert heaps_law(1_000, k=2.0, beta=1 / 3) == pytest.approx(20.0)


def test_export_zipf_csv_and_constants(spark, tmp_path):
    """S14: the rank/frequency CSV keeps its header row and the top
    slice; the constants JSON is the full-table zipf_fit."""
    import glob
    import json

    from search_engine_spark.operators.analytics import (
        export_zipf,
        zipf_fit,
        zipf_rank_table,
    )

    rows = [(f"t{i:03d}", 1000 // (i + 1)) for i in range(50)]
    ranked = zipf_rank_table(spark.createDataFrame(rows, "term string, freq long"))
    consts = export_zipf(ranked, str(tmp_path), top=5)
    (part,) = glob.glob(str(tmp_path / "rank_frequency" / "part-*.csv"))
    lines = open(part).read().splitlines()
    assert lines[0] == "rank,term,freq"
    assert len(lines) == 1 + 5
    fit = zipf_fit(ranked).collect()[0]
    want = {"C": fit["c"], "s": fit["s"], "r_squared": fit["r2"]}
    assert consts == want
    assert json.load(open(tmp_path / "zipf_constants.json")) == want


def test_vocabulary_growth(spark, docs):
    from search_engine_spark.operators.analytics import vocabulary_growth

    rows = vocabulary_growth(docs).collect()
    assert [r["doc_rank"] for r in rows] == [1, 2, 3]
    assert rows[0]["cum_tokens"] == 8 and rows[0]["vocab_size"] == 4
    assert rows[-1]["cum_tokens"] == 24 and rows[-1]["vocab_size"] == 7


def test_language_id(spark):
    from search_engine_spark.operators.textstats import language_id

    rows = [
        (0, "the cat sat on the mat and it was good"),
        (1, "der hund ist nicht in das haus und der garten"),
        (2, "le chat est dans la maison et les jardins"),
        (3, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "und"}


def test_quality_and_token_counts(spark):
    from search_engine_spark.operators.textstats import (
        quality_features,
        token_counts,
    )

    df = spark.createDataFrame(
        [(0, "hello world hello"), (1, "")], "doc_id long, text string"
    )
    q = {r["doc_id"]: r for r in quality_features(df).collect()}
    assert q[0]["q_n_tokens"] == 3
    assert q[0]["q_distinct_ratio"] == pytest.approx(2 / 3)
    assert q[1]["q_n_tokens"] == 0 and q[1]["quality_score"] >= 0.0

    t = {r["doc_id"]: r for r in token_counts(df).collect()}
    assert t[0]["n_ws_tokens"] == 3
    # "hello" → hell+o = 2 pieces; ×3 tokens minus... hello(2)+world(2)+hello(2)
    assert t[0]["n_bpe_pieces"] == 6
    assert t[1]["n_ws_tokens"] == 0 and t[1]["n_bpe_pieces"] == 0


def test_fingerprint_stability(spark):
    from search_engine_spark.operators.textstats import fingerprint

    df = spark.createDataFrame(
        [(0, "aa bb cc dd"), (1, "aa bb cc dd"), (2, "dd cc bb aa"),
         (3, "xx yy")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    assert fp[0] == fp[1]          # identical text → identical fingerprint
    assert fp[0] != fp[2]          # order matters (positional shingles)
    assert len(fp[3]) == 32        # <3 tokens → md5(text) fallback


def test_multimodal_metadata_and_stubs(spark):
    from search_engine_spark.operators.multimodal import (
        decode_image_features,
        media_metadata,
        sample_frames,
    )

    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 64
    jpg = b"\xff\xd8\xff\xe0" + b"\x01" * 32
    rows = [(0, bytearray(png)), (1, bytearray(jpg)), (2, bytearray(b"hi"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    meta = {r["doc_id"]: r for r in media_metadata(df).collect()}
    assert meta[0]["media_type"] == "image/png"
    assert meta[1]["media_type"] == "image/jpeg"
    assert meta[2]["media_type"] == "application/octet-stream"
    assert meta[0]["n_bytes"] == len(png)
    assert len(meta[0]["sha256"]) == 64

    # real decode is stubbed
    with pytest.raises(NotImplementedError):
        decode_image_features(df).collect()
    feats = decode_image_features(df, fake=True, side=4).collect()
    assert len(feats) == 3
    assert all(len(r["feature"]) == 4 for r in feats)
    # deterministic: same payload → same features
    again = decode_image_features(df, fake=True, side=4).collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))

    frames = sample_frames(df, n_frames=3, fake=True).collect()
    assert len(frames) == 9
    assert {r["frame_idx"] for r in frames} == {0, 1, 2}


def test_per_group_stats(spark):
    from search_engine_spark.operators.analytics import per_group_stats

    df = spark.createDataFrame(
        [(0, "aaaa", "en"), (1, "bb", "en"), (2, "cccccc", "de")],
        "doc_id long, text string, lang string",
    )
    got = {r["lang"]: r for r in per_group_stats(df, "lang").collect()}
    assert got["en"]["n_docs"] == 2 and got["en"]["sum_chars"] == 6
    assert got["en"]["avg_chars"] == pytest.approx(3.0)
    assert got["de"]["n_docs"] == 1


def test_zipf_rank_two_pass_matches_window(spark):
    """Forced two-pass ordinal (window_threshold=0) must rank exactly
    like the window path, with no single-partition WindowExec."""
    import random

    from search_engine_spark.operators.analytics import zipf_rank_table

    rng = random.Random(3)
    rows = [(f"t{i:04d}", rng.randint(1, 50)) for i in range(500)]
    freqs = spark.createDataFrame(rows, "term string, freq long")
    win = {(r["term"]): (r["rank"], r["freq"])
           for r in zipf_rank_table(freqs).collect()}
    two = zipf_rank_table(freqs, window_threshold=0)
    plan = two._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    got = {(r["term"]): (r["rank"], r["freq"]) for r in two.collect()}
    assert got == win


def test_gini_two_pass_matches_window(spark):
    import random

    from search_engine_spark.operators.analytics import gini

    rng = random.Random(4)
    rows = [(f"t{i:04d}", rng.randint(1, 50)) for i in range(300)]
    freqs = spark.createDataFrame(rows, "term string, freq long")
    a = gini(freqs).collect()[0]["gini"]
    b = gini(freqs, window_threshold=0).collect()[0]["gini"]
    assert abs(a - b) < 1e-12


def test_plot_data_fallbacks(spark, tmp_path):
    """Z13 plots: matplotlib is absent in this container, so each plot
    writes its (driver-sized) data payload and returns False — the
    Spark-side aggregation is exercised either way."""
    import json

    from search_engine_spark.operators.analytics import (
        plot_distribution_comparison,
        plot_rank_frequency_bars,
        plot_vocabulary_growth,
        plot_zipf,
        vocabulary_growth,
        zipf_rank_table,
    )

    rows = [(f"t{i:03d}", 1000 // (i + 1)) for i in range(50)]
    freqs = spark.createDataFrame(rows, "term string, freq long")
    ranked = zipf_rank_table(freqs)

    p1 = str(tmp_path / "bars.png")
    assert plot_rank_frequency_bars(ranked, p1, top=10) is False
    d1 = json.load(open(p1 + ".json"))
    assert len(d1["terms"]) == 10 and d1["freqs"][0] == 1000

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(5)], "doc_id long, text string"
    )
    growth = vocabulary_growth(docs, points=5)
    p2 = str(tmp_path / "growth.png")
    assert plot_vocabulary_growth(growth, p2) is False
    d2 = json.load(open(p2 + ".json"))
    assert d2["doc_rank"] == [1, 2, 3, 4, 5]
    assert d2["vocab_size"][-1] == 3

    p3 = str(tmp_path / "cmp.png")
    assert plot_distribution_comparison(ranked, p3, top=20) is False
    d3 = json.load(open(p3 + ".json"))
    assert len(d3["actual"]) == 20 and d3["s"] > 0

    p4 = str(tmp_path / "zipf.png")
    assert plot_zipf(ranked, p4, top=30) is False
    d4 = json.load(open(p4 + ".json"))
    assert d4["ranks"] == list(range(1, 31)) and d4["freqs"][0] == 1000


def test_alt_tokenizers_match_python_reference(spark):
    """T8 alternates vs direct Python ports of the reference snippets
    (simple_python_search.py:33-39 / zipf_analyzer.py:63-71), on
    punctuated mixed-script text."""
    import re
    from collections import Counter

    from search_engine_spark.operators.textstats import (
        simple_regex_tokens,
        zipf_alt_tokens,
    )

    texts = [
        "Hello, World! Это — тест... (скобки) [и] {ещё} a b aa?!",
        "x  multiple   spaces\tand\nnewlines!! word-with-dash it's",
        "!!! ... :::",
        "короткое слово и длинное предложение про поиск, поиск!",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    # T8a: set of \w+ tokens, len >= 2
    got = {
        r["id"]: set(r["terms"])
        for r in simple_regex_tokens(docs).collect()
    }
    for i, t in enumerate(texts):
        want = set(
            tok for tok in re.findall(r"\b\w+\b", t.lower()) if len(tok) >= 2
        )
        assert got[i] == want, (i, got[i], want)

    # T8b: lower().split(), len > 2, then edge-punct strip (empties kept)
    got_counts = Counter(
        r["term"] for r in zipf_alt_tokens(docs).collect()
    )
    want_counts = Counter()
    for t in texts:
        for tok in t.lower().split():
            if len(tok) > 2:
                want_counts[tok.strip(".,!?;:\"'()[]{}")] += 1
    assert got_counts == want_counts


def test_multimodal_real_netpbm_decode(spark):
    """P5/P6/P2 decode is REAL: known pixels → known luma/features,
    true source dimensions, nearest-neighbor resize."""
    import numpy as np

    from search_engine_spark.operators.multimodal import (
        decode_image_features,
        decode_netpbm,
        media_metadata,
    )

    # 2x2 grayscale P5: pixels 0, 100, 200, 50
    p5 = b"P5\n# comment\n2 2\n255\n" + bytes([0, 100, 200, 50])
    # 1x2 RGB P6: pure red and pure white
    p6 = b"P6 1 2 255\n" + bytes([255, 0, 0, 255, 255, 255])
    # 2x1 ASCII P2
    p2 = b"P2\n2 1\n255\n 10  240 "
    img5 = decode_netpbm(p5)
    assert img5.shape == (2, 2) and img5[0, 1] == 100.0
    img6 = decode_netpbm(p6)
    assert img6.shape == (2, 1)
    assert abs(img6[0, 0] - 0.299 * 255) < 1e-9  # BT.601 red luma
    assert abs(img6[1, 0] - 255.0) < 1e-9
    assert decode_netpbm(p2).tolist() == [[10.0, 240.0]]

    df = spark.createDataFrame(
        [(0, bytearray(p5)), (1, bytearray(p6)), (2, bytearray(p2))],
        "doc_id long, payload binary",
    )
    meta = {r["doc_id"]: r["media_type"] for r in media_metadata(df).collect()}
    assert meta == {
        0: "image/x-portable-graymap",
        1: "image/x-portable-pixmap",
        2: "image/x-portable-graymap",
    }
    feats = {r["doc_id"]: r for r in
             decode_image_features(df, decoder="netpbm", side=2).collect()}
    assert (feats[0]["width"], feats[0]["height"]) == (2, 2)
    assert feats[0]["mean_luma"] == pytest.approx((0 + 100 + 200 + 50) / 4)
    assert (feats[2]["width"], feats[2]["height"]) == (2, 1)
    assert feats[2]["mean_luma"] == pytest.approx(125.0)
    # resize of the 2x1 ASCII image to 2x2 repeats the single row
    assert feats[2]["feature"] == pytest.approx([125.0 / 255] * 2)


def test_multimodal_real_wav_decode(spark):
    """PCM WAV decode is REAL: a synthesized square wave round-trips
    with exact rate/channels/duration and the expected RMS/ZCR."""
    import io
    import wave

    import numpy as np

    from search_engine_spark.operators.multimodal import (
        decode_audio_features,
        decode_wav,
    )

    sr = 8000
    t = np.arange(sr)  # 1 second
    square = (np.where((t // 100) % 2 == 0, 0.5, -0.5) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(square.tobytes())
    payload = buf.getvalue()

    x, rate, ch = decode_wav(payload)
    assert (rate, ch, len(x)) == (sr, 1, sr)
    assert abs(abs(x[0]) - 0.5) < 1e-3

    df = spark.createDataFrame(
        [(7, bytearray(payload))], "doc_id long, payload binary"
    )
    row = decode_audio_features(df).collect()[0]
    assert row["sample_rate"] == sr and row["n_channels"] == 1
    assert row["duration_s"] == pytest.approx(1.0)
    assert row["rms"] == pytest.approx(0.5, abs=1e-3)
    # square wave flips every 100 samples → ~80 crossings / 8000
    assert row["zero_cross_rate"] == pytest.approx(79 / 7999, abs=2e-3)

    with pytest.raises(ValueError):
        decode_wav(b"\x00" * 32)


def test_multimodal_real_y4m_frame_sampling(spark):
    """yuv4mpeg2 parsing is REAL: synthesized 2x2 4:2:0 frames are
    recovered exactly and evenly sampled."""
    import hashlib

    from search_engine_spark.operators.multimodal import (
        parse_y4m_frames,
        sample_frames,
    )

    # 2x2 4:2:0 → 6 bytes per frame; 5 frames with distinct fill bytes
    frames = [bytes([i] * 6) for i in range(5)]
    payload = b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C420\n" + b"".join(
        b"FRAME\n" + f for f in frames
    )
    assert parse_y4m_frames(payload) == frames

    df = spark.createDataFrame(
        [(3, bytearray(payload))], "doc_id long, payload binary"
    )
    got = {r["frame_idx"]: r["frame_sha"]
           for r in sample_frames(df, n_frames=4, decoder="y4m").collect()}
    # evenly spaced over 5 frames: indices 0, 1, 2, 3
    assert got == {
        i: hashlib.sha256(frames[j]).hexdigest()
        for i, j in enumerate([0, 1, 2, 3])
    }

    with pytest.raises(Exception):
        parse_y4m_frames(b"YUV4MPEG2 W2 H2 C444\n")


def test_multimodal_decoder_width_branches():
    """16-bit netpbm and 32-bit/stereo WAV branches decode exactly."""
    import io
    import struct
    import wave

    import numpy as np

    from search_engine_spark.operators.multimodal import (
        decode_netpbm,
        decode_wav,
    )

    # P5 with maxval 65535 → big-endian u16 samples
    p5_16 = b"P5 2 1 65535\n" + struct.pack(">HH", 1000, 64000)
    assert decode_netpbm(p5_16).tolist() == [[1000.0, 64000.0]]

    # 32-bit stereo WAV: L=+0.25, R=-0.25 → mono mix 0.0; and
    # L=R=+0.5 → 0.5
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(4)
        wf.setframerate(16000)
        smp = struct.pack(
            "<iiii",
            int(0.25 * 2**31), int(-0.25 * 2**31),
            int(0.5 * 2**31), int(0.5 * 2**31),
        )
        wf.writeframes(smp)
    x, sr, ch = decode_wav(buf.getvalue())
    assert (sr, ch, len(x)) == (16000, 2, 2)
    assert abs(x[0]) < 1e-9 and abs(x[1] - 0.5) < 1e-9


def test_repetition_stats_known_values(spark):
    from search_engine_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (0, "spam spam spam spam"),      # bigrams: 3x "spam spam"
            (1, "aa bb cc dd"),              # 3 distinct bigrams
            (2, "xx"),                       # < 2 tokens → 0/0
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(df, n=2).collect()}
    assert got[0]["top_ngram_ratio"] == pytest.approx(1.0)
    assert got[0]["distinct_ngram_ratio"] == pytest.approx(1 / 3)
    assert got[1]["top_ngram_ratio"] == pytest.approx(1 / 3)
    assert got[1]["distinct_ngram_ratio"] == pytest.approx(1.0)
    assert got[2]["top_ngram_ratio"] == 0.0
    assert got[2]["distinct_ngram_ratio"] == 0.0


def test_scrub_pii(spark):
    from search_engine_spark.operators.textstats import scrub_pii

    df = spark.createDataFrame(
        [
            (0, "write a.b-c_d%e+f@sub.host.org now"),
            (1, "call +1 (415) 555-0133 or 415-555-0134 today"),
            (2, "no pii here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in scrub_pii(df).collect()}
    assert got[0] == "write <EMAIL> now"
    assert got[1] == "call <PHONE> or <PHONE> today"
    assert got[2] == "no pii here"
