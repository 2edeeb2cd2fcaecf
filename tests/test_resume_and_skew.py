"""Checkpoint/resume + skew-salting correctness (SURVEY §5.2 6-7)."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.functions import codec
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.sources.index_store import IndexStore
from search_engine_spark.sources.pages_source import pages_df


def _blocks_decoded(spark, store):
    out = {}
    for r in store.read_stage(spark, "blocks").collect():
        d, t, _ = codec.decode_block(
            bytes(r["doc_gaps"]), bytes(r["tfs"]), bytes(r["dls"])
        )
        out.setdefault(r["term"], []).extend(zip(d.tolist(), t.tolist()))
    return {k: sorted(v) for k, v in out.items()}


def test_resume_skips_completed_stages_and_is_identical(spark, tmp_path):
    cfg = EngineConfig(index_partitions=4)
    pages = pages_df(spark, n_docs=120, seed=7)
    full_dir = str(tmp_path / "full")
    build_index(spark, pages, full_dir, cfg)
    full_store = IndexStore(full_dir)
    want_blocks = _blocks_decoded(spark, full_store)

    # simulate a crash after the postings stage: copy docs+postings
    # stages + manifest, drop the rest
    resumed_dir = str(tmp_path / "resumed")
    os.makedirs(resumed_dir)
    for stage in ("docs", "postings"):
        shutil.copytree(
            os.path.join(full_dir, stage), os.path.join(resumed_dir, stage)
        )
    manifest = full_store.read_manifest()
    manifest["stages"] = {
        k: v for k, v in manifest["stages"].items() if k in ("docs", "postings")
    }
    with open(os.path.join(resumed_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)

    build_index(spark, pages, resumed_dir, cfg, resume=True)
    resumed_store = IndexStore(resumed_dir)

    # resumed build must be byte-identical in logical content
    assert _blocks_decoded(spark, resumed_store) == want_blocks
    got_meta = resumed_store.read_meta()
    want_meta = full_store.read_meta()
    assert got_meta["stats"] == want_meta["stats"]
    assert got_meta["n_docs"] == want_meta["n_docs"]
    # completed stages were NOT recomputed (no timing entries recorded)
    m = resumed_store.read_manifest()
    assert m["stages"]["docs"]["wall_ms"] == manifest["stages"]["docs"]["wall_ms"]


def test_resume_refuses_changed_config(spark, tmp_path):
    """Stages built under one config must not be reused under another:
    the kept blocks would carry the old k1's max_score bounds, and
    block-max pruning would return a quietly wrong top-k."""
    cfg = EngineConfig(index_partitions=4)
    pages = pages_df(spark, n_docs=60, seed=7)
    out = str(tmp_path / "idx")
    build_index(spark, pages, out, cfg)
    # a crash before the blocks stage: the rerun would reuse the rest
    IndexStore(out).invalidate("blocks")
    with pytest.raises(ValueError, match="another EngineConfig"):
        build_index(spark, pages, out, EngineConfig(index_partitions=4, k1=2.0),
                    resume=True)
    # the refused resume left the recorded config as it was
    assert IndexStore(out).read_manifest()["config"] == cfg.to_dict()


def test_config_with_retired_fields_is_refused():
    """A meta.json written before a field was retired names it: reading
    the config raises a ValueError that names every unknown field and
    says to rebuild, instead of the dataclass's TypeError."""
    old = {**EngineConfig(k1=2.0).to_dict(),
           "store_raw_postings": False, "remove_punctuation": True}
    with pytest.raises(ValueError,
                       match="remove_punctuation, store_raw_postings; rebuild"):
        EngineConfig.from_dict(old)
    assert EngineConfig.from_dict(EngineConfig(k1=2.0).to_dict()) == \
        EngineConfig(k1=2.0)


def test_salted_build_semantically_equal_to_unsalted(spark, tmp_path):
    """FIXTURES §6: one term in ~50% of docs; salting must not change
    the decoded index."""
    texts = [
        "общий общий "  # heavy term: in every doc (df=200 ≫ threshold)
        + ("контент " if i % 2 == 0 else "редкий ")
        + f"слово{i} хвост{i % 7}"
        for i in range(200)
    ]
    pages = spark.createDataFrame(
        [(f"http://s/{i:04d}", None, None, t, "ru") for i, t in enumerate(texts)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    plain_cfg = EngineConfig(index_partitions=4, salt_df_threshold=10**9)
    salt_cfg = EngineConfig(index_partitions=4, salt_df_threshold=50, salt_buckets=4)
    d1, d2 = str(tmp_path / "plain"), str(tmp_path / "salted")
    build_index(spark, pages, d1, plain_cfg)
    build_index(spark, pages, d2, salt_cfg)
    b1 = _blocks_decoded(spark, IndexStore(d1))
    b2 = _blocks_decoded(spark, IndexStore(d2))
    assert b1 == b2
    # the heavy term really was split across salt buckets
    heavy_blocks = (
        IndexStore(d2)
        .read_stage(spark, "blocks")
        .filter(F.col("term") == "общий")
        .select((F.col("block_id") / (1 << 20)).cast("int").alias("salt"))
        .distinct()
        .count()
    )
    assert heavy_blocks == 4


def test_validate_index(spark, tmp_path):
    from search_engine_spark.config import EngineConfig
    from search_engine_spark.operators.index_build import build_index, validate_index
    from search_engine_spark.sources.pages_source import pages_df

    out = str(tmp_path / "vidx")
    store = build_index(
        spark, pages_df(spark, n_docs=150, seed=11), out,
        EngineConfig(index_partitions=4),
    )
    report = validate_index(store, spark)
    assert report["ok"], report
