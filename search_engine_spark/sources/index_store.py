"""Index persistence: Iceberg-shaped layout on partitioned Parquet.

The north_rule asks for Iceberg tables; no Iceberg runtime jar ships
with the engine, so the store is a thin interface (SURVEY.md §7.5) that
writes a directory of partitioned Parquet tables with JSON
``meta``/``manifest`` sidecars — the logical layout an Iceberg table
per stage would hold.

Layout::

    index_dir/
      meta.json        engine config + N + avgdl + IndexStats + timings
      manifest.json    build config + per-stage lineage: rows, wall_ms,
                       per-file rows
      docmeta/         (doc_id, url, title, lang, doc_len, unique_terms)
      postings/        (term, doc_id, tf, doc_len[, positions])  sorted runs
      dictionary/      (term, df, cf)
      blocks/          (term, block_id, doc_count, min_doc, max_doc,
                        max_tf, max_stf, max_score, doc_gaps, tfs, dls)
                       doc_gaps/tfs/dls stay varbyte at rest; a query
                       engine decodes them once into its cached view
                       (``query_eval.decoded_view``) and scores that
                       in the JVM

``manifest.json`` is the checkpoint/resume protocol (modeled on the
reference crawler's JSON state, ``url_manager.py:197-251``): a stage is
recomputed iff its manifest entry is missing or incomplete, and a resume
under a config other than the recorded one is refused; per-file row
counts are read from parquet footers (cheap lineage, no extra job).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

STAGES = ("docs", "postings", "docmeta", "dictionary", "blocks")


class IndexStore:
    def __init__(self, index_dir: str):
        self.dir = index_dir
        os.makedirs(index_dir, exist_ok=True)

    # -- sidecars ----------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.dir, "manifest.json")

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.dir, "meta.json")

    def read_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"stages": {}}

    def _write_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, ensure_ascii=False)
        os.replace(tmp, self._manifest_path)

    def read_meta(self) -> dict:
        with open(self._meta_path) as f:
            return json.load(f)

    def write_meta(self, meta: dict) -> None:
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1, ensure_ascii=False)
        os.replace(tmp, self._meta_path)

    def bind_config(self, config: dict, resume: bool) -> None:
        """Record the build config in the manifest before any stage runs.

        A fresh build starts a new manifest. A resume keeps the completed
        stages only if they were written under this same config: reusing
        them under another one (say, blocks whose ``max_score`` bounds
        came from another k1/b) would prune with wrong bounds and return
        a quietly wrong top-k, so a mismatch, or an unrecorded config,
        raises instead."""
        m = self.read_manifest() if resume else {"stages": {}}
        if m["stages"] and m.get("config") != config:
            raise ValueError(
                f"cannot resume {self.dir}: its completed stages were built "
                "under another EngineConfig; rebuild with resume=False"
            )
        m["config"] = config
        self._write_manifest(m)

    # -- stages --------------------------------------------------------
    def stage_path(self, stage: str) -> str:
        return os.path.join(self.dir, stage)

    def stage_complete(self, stage: str) -> bool:
        entry = self.read_manifest()["stages"].get(stage)
        return bool(entry and entry.get("complete")) and os.path.isdir(
            self.stage_path(stage)
        )

    def write_stage(self, stage: str, df: DataFrame, wall_start: float) -> None:
        path = self.stage_path(stage)
        df.write.mode("overwrite").parquet(path)
        files = self._file_lineage(path)
        m = self.read_manifest()
        m["stages"][stage] = {
            "complete": True,
            "rows": sum(r for _, r in files),
            "n_files": len(files),
            "files": files,
            "wall_ms": int((time.time() - wall_start) * 1000),
        }
        self._write_manifest(m)

    def invalidate(self, stage: str) -> None:
        m = self.read_manifest()
        m["stages"].pop(stage, None)
        self._write_manifest(m)

    def _file_lineage(self, path: str):
        """Per-file row counts from parquet footers (lineage, no Spark job)."""
        import pyarrow.parquet as pq

        out = []
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet"):
                fp = os.path.join(path, name)
                out.append((name, pq.ParquetFile(fp).metadata.num_rows))
        return out

    def read_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(self.stage_path(stage))
