"""Incremental / streaming index maintenance: one segment per micro-batch.

The Spark-first re-expression of the reference's incremental writer
(src/index/index-writer.lisp:71-91: each added document becomes a RAM
segment; maybe-merge-segments compacts tiers): here each Structured
Streaming micro-batch (or explicit ``add_batch`` call) builds one segment —
a full mini-index under ``<dir>/segments/seg-<n>`` with a docid base
allocated from the manifest — and the manifest commit is an atomic rename
(the ``segments`` file protocol, src/index/segment-infos.lisp:144-157).

Query side: ``multi_index`` unions the segment tables; the shard kernel
merges per-(term, shard) cells across segments by docid order (the
multi-reader analog, src/index/multi-reader.lisp). Every segment is a saved
layout, so the union also lists the segments' directories and the
Searcher's local tier reads them driver-direct (df summed across segments,
no Spark job per query). ``compact()`` merges all segments into one
(optimize, src/index/index-writer.lisp:94-107).

Streaming entry: ``writeStream.foreachBatch(indexer.foreach_batch())``.
Exactly-once: the manifest records the last applied streaming batch_id —
replayed batches (foreachBatch at-least-once semantics) are skipped.

Docid determinism note: batch arrival order defines segment bases; within a
batch, docids are rank-of-url as in the bulk build.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from montezuma_spark.index.builder import Index, build_index
from montezuma_spark.index.config import IndexConfig


class IncrementalIndexer:
    def __init__(self, spark: SparkSession, index_dir: str,
                 config: IndexConfig, merge_factor: int = 10,
                 min_merge_docs: int | None = None,
                 max_merge_docs: int = 1 << 31):
        """``min_merge_docs`` enables the reference's log-tier merge
        policy (maybe-merge-segments, index-writer.lisp:184-199): after
        every ``add_batch``, runs of ≥``merge_factor``-worth of segments
        below a size tier are merged, tier growing ×merge_factor up to
        ``max_merge_docs`` — long-running streams pay log(N) rewrites
        per doc instead of the full rewrite ``compact()`` costs. Leave
        None for manual compaction only."""
        self.spark = spark
        self.index_dir = index_dir
        self.config = config
        self.merge_factor = merge_factor
        self.min_merge_docs = min_merge_docs
        self.max_merge_docs = max_merge_docs
        os.makedirs(os.path.join(index_dir, "segments"), exist_ok=True)

    # ------------------------------------------------------------- manifest
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.index_dir, "segments.json")

    def manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as fh:
                return json.load(fh)
        return {"segments": [], "next_docid": 0, "next_seg": 0,
                "applied_batches": [], "tombstones": []}

    def _commit(self, man: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(man, fh, indent=2)
        os.replace(tmp, self._manifest_path)  # atomic, like segments.new→segments

    # ----------------------------------------------------------------- write
    def add_batch(self, docs: DataFrame, batch_id: int | None = None) -> dict:
        """Index one batch as a new segment. Returns the manifest entry.

        Idempotent per batch_id (streaming replays are skipped).
        """
        man = self.manifest()
        if batch_id is not None and batch_id in man["applied_batches"]:
            return {"skipped": True, "batch_id": batch_id}
        n = docs.count()
        if n == 0:
            if batch_id is not None:
                man["applied_batches"].append(batch_id)
                self._commit(man)
            return {"skipped": True, "empty": True}
        seg_id = man["next_seg"]
        seg_dir = os.path.join(self.index_dir, "segments", f"seg-{seg_id:06d}")
        idx = build_index(
            self.spark, docs, self.config, index_dir=seg_dir,
            docid_base=man["next_docid"],
        )
        entry = {
            "id": seg_id,
            "dir": seg_dir,
            "docid_base": man["next_docid"],
            "num_docs": idx.build_report.get("total_docs", n),
            "stats": idx.stats,
        }
        man["segments"].append(entry)
        man["next_docid"] += entry["num_docs"]
        man["next_seg"] += 1
        if batch_id is not None:
            man["applied_batches"].append(batch_id)
        self._commit(man)
        if self.min_merge_docs is not None:
            self.maybe_merge()
        return entry

    def delete_by_key(self, keys) -> int:
        """Tombstone docs by key (url) across all segments — the
        delete-docs-with-term/key path (src/index/index.lisp:184-192).
        Tombstones live in the manifest and apply at query + compact time."""
        keys = [k for k in keys if k is not None]
        if not keys:
            return 0
        man = self.manifest()
        if not man["segments"]:
            return 0
        idx = self.multi_index()
        from montezuma_spark.search.searcher import _terms_predicate

        rows = (
            idx.doc_map.filter(_terms_predicate("key", keys))
            .select("docid")
            .collect()
        )
        new = {int(r["docid"]) for r in rows}
        man = self.manifest()
        before = set(man.get("tombstones", []))
        man["tombstones"] = sorted(before | new)
        self._commit(man)
        return len(new - before)

    def update_batch(self, docs: DataFrame, batch_id: int | None = None) -> dict:
        """Update = delete-by-key + add as a new segment — the reference's
        query-update / key-replace semantics (src/index/index.lisp:266-328:
        no in-place update; delete then re-add). The new segment's docids
        are later in docid order, so the fresh version wins top-k ties the
        same way the reference's re-added doc gets a new docid."""
        man = self.manifest()
        if batch_id is not None and batch_id in man["applied_batches"]:
            return {"skipped": True, "batch_id": batch_id}
        keys = [r["key"] for r in
                docs.select(docs[self.config.key_col].alias("key"))
                .distinct().collect()]
        self.delete_by_key(keys)
        return self.add_batch(docs, batch_id=batch_id)

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch`` (Structured Streaming)."""

        def fn(batch_df: DataFrame, batch_id: int):
            self.add_batch(batch_df, batch_id=int(batch_id))

        return fn

    # ------------------------------------------------------------------ read
    def multi_index(self) -> Index:
        """Union all segments into one queryable Index (multi-reader)."""
        man = self.manifest()
        idx = self._union_index(
            man["segments"], man.get("tombstones", [])
        )
        from montezuma_spark.index.deletions import load_holes

        hs = load_holes(self.index_dir)
        if len(hs):
            # docids expunged by an earlier compact: stable-with-holes, so
            # docid-level queries must keep masking them (builder.holes).
            # Sidecar file, NOT the manifest — holes only grow and would
            # cost O(holes) JSON parse+rewrite per micro-batch commit
            import numpy as np

            idx.holes = np.union1d(idx.holes, hs)
        return idx

    def _union_index(self, entries: list, tombstones: list) -> Index:
        """Multi-reader over a subset of segment entries; ``tombstones``
        (global docids) apply at query time, never baked into segments."""
        segs = [Index.load(self.spark, e["dir"]) for e in entries]
        if not segs:
            raise ValueError("no segments yet")
        if len(segs) == 1:
            tombs = tombstones
            if tombs:
                import numpy as np

                segs[0].tombstones = np.union1d(
                    segs[0].tombstones,
                    np.asarray(sorted(tombs), dtype=np.int64),
                )
            return segs[0]
        from functools import reduce
        from pyspark.sql import functions as F

        doc_map = reduce(lambda a, b: a.unionByName(b),
                         [s.doc_map for s in segs])
        doc_lens = reduce(lambda a, b: a.unionByName(b),
                          [s.doc_lens for s in segs])
        postings = reduce(lambda a, b: a.unionByName(b),
                          [s.postings for s in segs])
        term_stats = (
            reduce(lambda a, b: a.unionByName(b), [s.term_stats for s in segs])
            .groupBy("field", "term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        )
        # combined stats: df-weighted avgdl (exact: totals / counts)
        from montezuma_spark.codec.postings import (
            CORPUS_STATS_KEY,
            corpus_num_docs,
        )

        stats: dict = {}
        for s in segs:
            for f, st in s.stats.items():
                if f == CORPUS_STATS_KEY:
                    continue  # aggregated below with per-segment fallback
                agg = stats.setdefault(
                    f, {"num_docs": 0, "total_tokens": 0}
                )
                agg["num_docs"] += st["num_docs"]
                agg["total_tokens"] += st["total_tokens"]
        for f, st in stats.items():
            st["avgdl"] = (
                st["total_tokens"] / st["num_docs"] if st["num_docs"] else 0.0
            )
        # corpus entry: doc counts sum with a max-over-fields fallback for
        # pre-key segments (a key-carrying minority must not shadow them);
        # the exact universe bound (max of per-segment docid_base-aware
        # bounds) only when EVERY segment carries one
        corp = sum(corpus_num_docs(s.stats) for s in segs)
        if corp:
            ent = {"num_docs": corp, "total_tokens": 0, "avgdl": 0.0}
            bounds = [
                s.stats.get(CORPUS_STATS_KEY, {}).get("max_doc")
                for s in segs
            ]
            if all(bounds):
                ent["max_doc"] = max(int(b) for b in bounds)
            stats[CORPUS_STATS_KEY] = ent
        idx = Index(
            self.spark, segs[0].config, doc_map, doc_lens, postings,
            term_stats, stats, index_dir=None,
            build_report={"segments": len(segs)},
        )
        # every segment is a saved (field, term) range layout: the
        # Searcher serves the union driver-direct from the segments' own
        # files (df summed across them, cells merged by the kernel's
        # blk_first order) — no Spark job per query
        idx.saved_dirs = tuple(d for s in segs for d in s.saved_dirs)
        if tombstones:
            import numpy as np

            idx.tombstones = np.asarray(sorted(tombstones), dtype=np.int64)
        return idx

    # ------------------------------------------------------- tiered merge
    def maybe_merge(self) -> list:
        """The reference's log-tier merge walk (maybe-merge-segments,
        index-writer.lisp:184-199): for each size tier ``target`` =
        min_merge_docs × merge_factor^k (k = 0, 1, … while ≤
        max_merge_docs), find the newest run of segments each smaller
        than ``target``; if the run totals ≥ ``target`` docs, merge it
        into one segment. Repeated small batches therefore compact in
        O(log N) tiers — never the all-at-once rewrite of ``compact()``.
        Returns the manifest entries of any segments created."""
        if self.min_merge_docs is None:
            return []
        made = []
        target = self.min_merge_docs
        while target <= self.max_merge_docs:
            man = self.manifest()
            segs = man["segments"]
            lo = len(segs)
            merge_docs = 0
            while lo > 0 and segs[lo - 1]["num_docs"] < target:
                merge_docs += segs[lo - 1]["num_docs"]
                lo -= 1
            if merge_docs >= target and len(segs) - lo >= 2:
                made.append(self._merge_segments(lo))
            else:
                return made
            target *= self.merge_factor
        return made

    def _merge_segments(self, lo: int) -> dict:
        """Merge segments[lo:] into one segment (merge-segments analog,
        index-writer.lisp:201-236). Docids are already global (bases
        assigned at build), so the merged cells simply re-encode per
        (field, term, shard) in docid order; manifest tombstones stay
        query-time (global ids unchanged — full ``compact()`` is where
        they get expunged)."""
        man = self.manifest()
        entries = man["segments"][lo:]
        merged = self._union_index(entries, [])
        seg_id = man["next_seg"]
        seg_dir = os.path.join(self.index_dir, "segments", f"seg-{seg_id:06d}")
        compacted = _merge_postings(merged, seg_dir)
        entry = {
            "id": seg_id,
            "dir": seg_dir,
            "docid_base": entries[0]["docid_base"],
            "num_docs": sum(e["num_docs"] for e in entries),
            "stats": compacted.stats,
        }
        man["segments"] = man["segments"][:lo] + [entry]
        man["next_seg"] = seg_id + 1
        self._commit(man)
        for e in entries:  # now-obsolete tier members
            shutil.rmtree(e["dir"], ignore_errors=True)
        return entry

    # -------------------------------------------------------------- compact
    def compact(self) -> Index:
        """Merge all segments into a single optimized index (the reference's
        ``optimize``). Postings cells are decoded and re-encoded per
        (field, term, shard) with the merged corpus avgdl — block-max bounds
        stay tight. Commits a fresh single-segment manifest."""
        merged = self.multi_index()
        if merged.has_deletions():
            # merge-time compaction of tombstones (the doc-map skip in
            # append-postings, segment-merger.lisp:210-246): expunge first
            # (lazy — untouched cells pass through), then re-merge cells
            merged = merged.expunge_deletes()
        man = self.manifest()
        seg_id = man["next_seg"]
        seg_dir = os.path.join(self.index_dir, "segments", f"seg-{seg_id:06d}")
        compacted = _merge_postings(merged, seg_dir)
        compacted.holes = merged.holes  # survive for docid-level queries
        old_dirs = [e["dir"] for e in man["segments"]]
        new_man = {
            "segments": [
                {
                    "id": seg_id,
                    "dir": seg_dir,
                    "docid_base": 0,
                    "num_docs": sum(e["num_docs"] for e in man["segments"])
                    - len(man.get("tombstones", [])),
                    "stats": compacted.stats,
                }
            ],
            "next_docid": man["next_docid"],
            "next_seg": seg_id + 1,
            "applied_batches": man["applied_batches"],
            "tombstones": [],  # compaction expunged them → holes sidecar
        }
        from montezuma_spark.index.deletions import save_holes

        save_holes(self.index_dir, merged.holes)
        self._commit(new_man)
        for d in old_dirs:  # delete obsolete segment files (deletable list)
            shutil.rmtree(d, ignore_errors=True)
        return compacted


def _merge_postings(merged: Index, out_dir: str) -> Index:
    """Re-encode multi-segment postings into single cells per
    (field, term, shard) — the append-postings merge
    (src/index/segment-merger.lisp:210-246) as one applyInPandas."""
    import pandas as pd

    from montezuma_spark.index.builder import (
        POSTINGS_COLS,
        POSTINGS_SCHEMA,
        merge_cell_rows,
    )

    block = merged.config.block_size
    codec = merged.config.block_codec

    def merge_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 1:
            return pdf[POSTINGS_COLS]
        row = merge_cell_rows(
            list(pdf.itertuples(index=False)), block, codec
        )
        return pd.DataFrame([row], columns=POSTINGS_COLS)

    from pyspark.sql import functions as F

    postings = merged.postings.groupBy("field", "term", "shard").applyInPandas(
        merge_group, schema=POSTINGS_SCHEMA
    )
    term_stats = postings.groupBy("field", "term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )
    idx = Index(
        merged.spark, merged.config, merged.doc_map, merged.doc_lens,
        postings, term_stats, merged.stats,
    )
    return idx.save(out_dir)
