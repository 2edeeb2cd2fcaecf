"""Engine configuration.

All tunables in one place. Reference parity notes:

* Tokenizer bounds/flags mirror the reference defaults
  (``cpp_modules/tokenizer/src/tokenizer.cpp:10-15``, ``config.yaml:55-59``):
  min 2 / max 50 *bytes*, keep digits, strip punctuation, ASCII-only
  case folding.
* BM25 constants: the reference never implemented BM25 (it is "future
  work", ``report/main.tex:1405``; shipped scorer assigns 1.0,
  ``query_evaluator.cpp:288-291``). We adopt standard Okapi defaults
  k1=1.2, b=0.75 and the Lucene-style non-negative idf; the single-node
  oracle model uses the same constants, which is what "the reference's
  constants" means for the rank-identity contract (SURVEY.md §0.1).
* Block size: postings are compressed in blocks of ``block_size``
  postings (delta-gap doc_ids + varbyte), each block carrying
  (min_doc, max_doc, doc_count, max_tf, max_stf) where max_stf is the
  tf-dependent BM25 factor; max_score = idf * max_stf is attached from
  the dictionary. 128 is the classic block-max WAND granularity.
* ``salt_df_threshold``: terms whose document frequency exceeds this
  are salted across ``salt_buckets`` reducers during the build shuffle
  (posting-list splitting for stopword-heavy terms, north_rule).
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict


@dataclass(frozen=True)
class EngineConfig:
    # tokenizer (reference parity — tokenizer.cpp:10-15)
    min_token_bytes: int = 2
    max_token_bytes: int = 50
    remove_numbers: bool = False
    remove_punctuation: bool = True
    case_folding: bool = True  # ASCII-only, like ds_string.h:395-406
    use_stemmer: bool = False  # reference stemmer is NOT in the index path (SURVEY §0.2)

    # BM25 (engine-defined; see module docstring)
    k1: float = 1.2
    b: float = 0.75

    # index layout
    block_size: int = 128              # postings per compressed block
    index_partitions: int = 32         # term-hash shuffle width (explicit, north_rule)
    salt_df_threshold: int = 100_000   # df above this → salted posting-list split
    salt_buckets: int = 8
    store_positions: bool = True       # positions table for phrase/proximity

    # extraction
    min_article_length: int = 0        # reference crawl-filter default is 1000 (config.yaml:50);
                                       # 0 here because the engine indexes whatever the table holds
    normalize_urls: bool = True        # E12 (url_manager.py:57-85): defrag + scheme default +
                                       # lowercase BEFORE url dedup, as the reference crawler does
    extract_meta_links: bool = False   # E9/E10: carry metadata map + links array columns in the
                                       # docs stage (same parse pass; off by default — index/query
                                       # paths never read them)

    # query
    default_top_k: int = 10
    wand_min_blocks: int = 64          # only bother with block-max skipping beyond this many blocks

    def to_dict(self) -> dict:
        return asdict(self)

    @staticmethod
    def from_dict(d: dict) -> "EngineConfig":
        return EngineConfig(**d)


DEFAULT_CONFIG = EngineConfig()
