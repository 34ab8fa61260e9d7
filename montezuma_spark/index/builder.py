"""Inverted-index construction, Spark-first — partition-local segment build.

This is the Lucene/Montezuma segment model re-expressed for Spark's shuffle
economics. The reference inverts each doc into a RAM segment and merges
segments logarithmically (src/index/index-writer.lisp:71-91,182-199); a naive
Spark translation shuffles one row per (term, doc) — at web scale that is
billions of tiny rows crossing Arrow + the shuffle twice. Instead:

1. ``repartitionByRange(key)`` + ``sortWithinPartitions(key)`` — one Spark
   partition == one "segment" holding a CONTIGUOUS docid range (docid =
   global rank of key, bases precomputed from per-partition key counts — a
   cheap JVM-only agg; the segment-base rebasing analog,
   src/index/multi-reader.lisp:30-37).
2. ONE ``mapInPandas`` pass fuses tokenize → invert → encode
   (src/index/document-writer.lisp:51-213 collapsed into a single vectorized
   stage): each task tokenizes its rows, accumulates postings for the
   current docid-range shard, and every time the running docid crosses a
   shard boundary (2^shard_bits docs) flushes fully-encoded posting CELLS
   (delta-varint docids + tf + dl streams, block-max metadata — see
   codec/postings.py). Memory is bounded by one shard, not the partition.
   Per-doc lengths ride along as marker cells (term = DOCLENS_TERM), so the
   pass emits exactly one row type and nothing re-tokenizes later.
3. The only wide shuffle moves COMPRESSED CELLS (≈1 byte/posting, not
   30+ bytes/row): ``groupBy(field, shard, hash-bucket(term))`` merges the
   few cells of shards that straddle partition edges — Spark's sort-merge
   IS the reference's segment-merge priority queue
   (src/index/segment-merger.lisp:163-246). Cells wholly inside one
   partition pass through untouched (the common case). Block-max metadata
   is avgdl-free (maxtf/mindl), so merge never loosens WAND bounds.
4. ``term_stats`` dictionary = groupBy(field, term) rollup of cell df/cf
   (cross-segment df sum analog, src/index/multi-reader.lisp:151-153);
   corpus stats come from the doclens marker cells.

Skew: hot terms (stop words, wildcard unions) are split structurally across
docid-range shards — a term's per-shard group is bounded by 2^shard_bits
docs regardless of its global df, so no single reducer ever sees a whole
hot posting list (the salting requirement of the north star, built into the
layout instead of bolted on).
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montezuma_spark.analysis import get_analyzer
from montezuma_spark.codec.postings import (
    decode_cell,
    decode_positions,
    encode_cell,
    encode_positions,
)
from montezuma_spark.index.config import FieldConfig, IndexConfig

# terms are hash-bucketed for the merge shuffle: tasks = shards × buckets,
# each bucket merges many terms in one pandas batch
ENCODE_BUCKETS = 128

POSTINGS_SCHEMA = (
    "field string, term string, shard long, df long, cf long, "
    "postings binary, positions binary, pos_off array<long>, "
    "blk_first array<long>, blk_last array<long>, blk_n array<int>, "
    "blk_off array<long>, blk_codes_len array<long>, blk_ext_len array<long>, "
    "blk_maxtf array<long>, blk_mindl array<long>, "
    "blk_imp_n array<int>, blk_imp_tf array<long>, blk_imp_dl array<long>"
)
POSTINGS_COLS = [c.split()[0] for c in POSTINGS_SCHEMA.split(", ")]

# doc-length marker cells: one per (field, shard), postings = encode_cell(
# docids, tfs=dl+1) (the +1 keeps empty docs encodable). These replace a
# separate doc_lens shuffle; decoded lazily by _doclens_iter.
DOCLENS_TERM = "\x00doclens"
# per-(field, partition) corpus-stats marker row: df = num docs,
# cf = total tokens. Corpus stats then cost one JVM agg over a handful of
# rows instead of a python decode pass over the doclens cells.
STATS_TERM = "\x00stats"
MARKER_TERMS = (DOCLENS_TERM, STATS_TERM)

# index-time per-doc boost marker cells (field.lisp:104-120 boost → norms,
# document-writer.lisp:215-227 write-norms): one cell per shard with
# tf = dl = quantized boost (round(boost·1024), min 1 — the byte-quantized
# norm analog, similarity.lisp float-to-byte315, at finer precision). They
# LIVE in the postings table (co-partitioned with the cells they scale, the
# in-cell-dl-stream reasoning: never a query-time join) but are excluded
# from term_stats and term_vectors. Constants live in codec.postings so the
# pyspark-free query kernel can import them.
from montezuma_spark.codec.postings import (  # noqa: E402,F401 (re-export)
    BOOST_FIELD,
    BOOST_SCALE,
    BOOST_TERM,
    CORPUS_STATS_KEY,
    corpus_max_doc,
    corpus_num_docs,
)

DOC_LENS_SCHEMA = "field string, docid long, dl long, shard long"

_GC_TUNED = False


def _tune_worker_gc() -> None:
    """Once per python worker process: collect, then freeze the imported
    module graph into the permanent generation. The segment builder
    allocates millions of small objects (token strings, arrays); without
    the freeze, generational GC re-scans the large import heap throughout
    the build (~25% of stage time), and touching old objects breaks
    copy-on-write sharing with the pyspark daemon fork."""
    global _GC_TUNED
    if _GC_TUNED:
        return
    import gc

    gc.collect()
    gc.freeze()
    _GC_TUNED = True


def row_meta(row) -> dict:
    """Block metadata dict from a postings row (namedtuple or Row)."""
    return {
        "first": list(row.blk_first),
        "last": list(row.blk_last),
        "n": list(row.blk_n),
        "off": list(row.blk_off),
        "codes_len": list(row.blk_codes_len),
        "ext_len": list(row.blk_ext_len),
        "maxtf": list(row.blk_maxtf),
        "mindl": list(row.blk_mindl),
    }


def _cell_row(field, term, shard, docids, tfs, dls, pos_lists, block_size,
              codec="varint"):
    """Encode one (field, term, shard) posting list into an output row."""
    cell, meta = encode_cell(
        docids, tfs, dls=dls, block_size=block_size, codec=codec
    )
    if pos_lists is not None:
        flat = (
            np.concatenate(pos_lists)
            if len(pos_lists)
            else np.empty(0, dtype=np.int64)
        )
        pos_cell, pos_off = encode_positions(
            tfs, flat, block_size=block_size, codec=codec
        )
    else:
        pos_cell, pos_off = b"", []
    return {
        "field": field,
        "term": term,
        "shard": int(shard),
        "df": len(docids),
        "cf": int(tfs.sum()),
        "postings": cell,
        "positions": pos_cell,
        "pos_off": np.asarray(pos_off, dtype=np.int64),
        "blk_first": np.asarray(meta["first"], dtype=np.int64),
        "blk_last": np.asarray(meta["last"], dtype=np.int64),
        "blk_n": np.asarray(meta["n"], dtype=np.int32),
        "blk_off": np.asarray(meta["off"], dtype=np.int64),
        "blk_codes_len": np.asarray(meta["codes_len"], dtype=np.int64),
        "blk_ext_len": np.asarray(meta["ext_len"], dtype=np.int64),
        "blk_maxtf": np.asarray(meta["maxtf"], dtype=np.int64),
        "blk_mindl": np.asarray(meta["mindl"], dtype=np.int64),
        "blk_imp_n": np.asarray(meta["imp_n"], dtype=np.int32),
        "blk_imp_tf": np.asarray(meta["imp_tf"], dtype=np.int64),
        "blk_imp_dl": np.asarray(meta["imp_dl"], dtype=np.int64),
    }


def _invert_chunk(docids, n_tokens, token_lists, pos_lists=None):
    """Vectorized per-chunk inversion for one field (the invert-document
    analog, src/index/document-writer.lisp:51-142, over a whole arrow batch
    at once): → (terms(object), docid, tf, dl, flat_positions).

    Positions stay FLAT (one array, runs of length tf per group, in group
    order) — per-group small arrays (np.split) cost per-GROUP python/alloc
    overhead, which at a web vocabulary (most terms rare → groups tiny)
    dominates everything else. ``pos_lists`` supplies explicit per-row
    token positions (multi-valued fields with a position gap); default is
    the contiguous 0..n-1 numbering."""
    keep = n_tokens > 0
    if not keep.any():
        return None
    kept_lists = [t for t, k in zip(token_lists, keep) if k]
    flat = np.concatenate([np.asarray(t, dtype=object) for t in kept_lists])
    nt = n_tokens[keep]
    d = docids[keep]
    rowi = np.repeat(np.arange(len(nt)), nt)
    bounds = np.cumsum(nt)
    if pos_lists is None:
        pos = np.arange(bounds[-1], dtype=np.int64) - np.repeat(
            bounds - nt, nt
        )
    else:
        pos = np.concatenate(
            [p for p, k in zip(pos_lists, keep) if k]
        ).astype(np.int64)
    term_codes, term_inv = np.unique(flat, return_inverse=True)
    order = np.lexsort((pos, term_inv, rowi))  # group (doc, term), pos asc
    r = rowi[order]
    t = term_inv[order]
    change = np.empty(len(order), dtype=bool)
    change[0] = True
    change[1:] = (t[1:] != t[:-1]) | (r[1:] != r[:-1])
    starts = np.flatnonzero(change)
    tf = np.diff(np.append(starts, len(order)))
    return (
        term_codes[t[starts]],
        d[r[starts]],
        tf.astype(np.int64),
        nt[r[starts]],
        pos[order],  # flat positions, group runs of length tf
    )


def _gather_runs(flat: np.ndarray, run_starts: np.ndarray,
                 run_lens: np.ndarray, order: np.ndarray) -> np.ndarray:
    """Concatenate variable-length runs of ``flat`` in ``order`` — the
    vectorized replacement for per-run python slicing."""
    out_lens = run_lens[order]
    total = int(out_lens.sum())
    if total == 0:
        return np.empty(0, dtype=flat.dtype)
    starts_out = np.cumsum(out_lens) - out_lens
    idx = (
        np.arange(total, dtype=np.int64)
        - np.repeat(starts_out, out_lens)
        + np.repeat(run_starts[order], out_lens)
    )
    return flat[idx]


class _ShardBuf:
    """Accumulates one field's postings for the CURRENT docid-range shard;
    crossing a shard boundary flushes encoded cells. Bounds task memory by
    one shard (2^shard_bits docs), not the whole partition."""

    def __init__(self, field: str, block_size: int, with_pos: bool,
                 codec: str = "varint"):
        self.field = field
        self.block_size = block_size
        self.with_pos = with_pos
        self.codec = codec
        self.shard = None
        self.chunks: list = []      # (terms, docids, tfs, dls, pos_lists)
        self.len_chunks: list = []  # (docids, dls) incl. dl=0 docs

    def add(self, docids, n_tokens, token_lists, shard_bits, pos_lists=None):
        """Feed a batch slice (ascending docids); yields flushed cell rows."""
        shards = docids >> shard_bits
        s = 0
        while s < len(docids):
            e = int(np.searchsorted(shards, shards[s], side="right"))
            if self.shard is not None and shards[s] != self.shard:
                yield from self.flush()
            self.shard = int(shards[s])
            inv = _invert_chunk(
                docids[s:e], n_tokens[s:e], token_lists[s:e],
                pos_lists[s:e] if pos_lists is not None else None,
            )
            if inv is not None:
                self.chunks.append(inv)
            self.len_chunks.append((docids[s:e], n_tokens[s:e]))
            s = e

    def flush(self):
        """→ iterator of pd.DataFrames of encoded cell rows (batched:
        every term of the shard is encoded in one vectorized pass)."""
        from montezuma_spark.codec.postings import encode_cells_batch

        if self.shard is None:
            return
        frames = []
        if self.chunks:
            terms = np.concatenate([c[0] for c in self.chunks])
            docs = np.concatenate([c[1] for c in self.chunks])
            tfs = np.concatenate([c[2] for c in self.chunks])
            dls = np.concatenate([c[3] for c in self.chunks])
            tcodes, tinv = np.unique(terms, return_inverse=True)
            order = np.lexsort((docs, tinv))
            ti = tinv[order]
            starts = np.flatnonzero(np.diff(ti, prepend=-1))
            bounds = np.append(starts, len(ti))
            flat_pos = None
            if self.with_pos:
                all_pos = np.concatenate([c[4] for c in self.chunks])
                run_starts = np.cumsum(tfs) - tfs
                flat_pos = _gather_runs(all_pos, run_starts, tfs, order)
            enc = encode_cells_batch(
                bounds, docs[order], tfs[order], dls[order],
                block_size=self.block_size, flat_positions=flat_pos,
                codec=self.codec,
            )
            frames.append(
                pd.DataFrame(
                    {
                        "field": self.field,
                        "term": tcodes,
                        "shard": int(self.shard),
                        "df": enc["df"],
                        "cf": enc["cf"],
                        "postings": enc["postings"],
                        "positions": enc["positions"],
                        "pos_off": enc["pos_off"],
                        "blk_first": enc["first"],
                        "blk_last": enc["last"],
                        "blk_n": enc["n"],
                        "blk_off": enc["off"],
                        "blk_codes_len": enc["codes_len"],
                        "blk_ext_len": enc["ext_len"],
                        "blk_maxtf": enc["maxtf"],
                        "blk_mindl": enc["mindl"],
                        "blk_imp_n": enc["imp_n"],
                        "blk_imp_tf": enc["imp_tf"],
                        "blk_imp_dl": enc["imp_dl"],
                    },
                    columns=POSTINGS_COLS,
                )
            )
        # doclens marker cell for this shard (dl+1 so empty docs encode)
        ld = np.concatenate([c[0] for c in self.len_chunks])
        ldl = np.concatenate([c[1] for c in self.len_chunks]) + 1
        frames.append(
            pd.DataFrame(
                [
                    _cell_row(
                        self.field, DOCLENS_TERM, self.shard, ld, ldl, ldl,
                        None, self.block_size, self.codec,
                    )
                ],
                columns=POSTINGS_COLS,
            )
        )
        self.chunks = []
        self.len_chunks = []
        self.shard = None
        yield from frames


def _docid_batch(pdf: pd.DataFrame, counter: int | None, last_key,
                 offsets: dict[int, int]):
    """Shared docid assignment for one ranged batch: running counter from
    the partition's precomputed base, keep-first per duplicate key.
    Returns (sub_pdf, docids, counter, last_key)."""
    if counter is None:
        pid = int(pdf["pid"].iloc[0])
        counter = offsets.get(pid, 0)
    keys = pdf["key"].to_numpy(dtype=object)
    newmask = np.ones(len(keys), dtype=bool)
    newmask[1:] = keys[1:] != keys[:-1]
    if last_key is not None:
        newmask[0] = keys[0] != last_key
    last_key = keys[-1]
    docids_all = counter + np.cumsum(newmask) - 1
    if newmask.any():
        counter = int(docids_all[-1]) + 1
    sub = pdf[newmask]  # keep-first per duplicate key
    return sub, docids_all[newmask], counter, last_key


def _segment_iter(
    batches: Iterator[pd.DataFrame],
    fields: list[FieldConfig],
    max_len: int,
    shard_bits: int,
    block_size: int,
    offsets: dict[int, int],
    boost_col: str | None = None,
    codec: str = "varint",
) -> Iterator[pd.DataFrame]:
    """mapInPandas body: the fused tokenize→invert→encode segment builder.

    Docids are assigned by a running counter seeded from the partition's
    precomputed base (``offsets[pid]``) — identical to dense_rank over the
    key sort, with duplicate keys keeping their first row.
    """
    _tune_worker_gc()
    analyzers = {
        f.name: (get_analyzer(f.analyzer) if f.analyzer else None)
        for f in fields
    }
    bufs = {
        f.name: _ShardBuf(f.name, block_size, f.positions, codec)
        for f in fields
    }
    counter = None
    last_key = None
    out_frames: list[pd.DataFrame] = []
    ndocs = {f.name: 0 for f in fields}
    ntoks = {f.name: 0 for f in fields}
    boost_acc: dict[int, list] = {}  # shard -> [(docids, boostq)]
    for pdf in batches:
        if len(pdf) == 0:
            continue
        sub, docids, counter, last_key = _docid_batch(
            pdf, counter, last_key, offsets
        )
        if len(sub) == 0:
            continue
        if boost_col is not None:
            bq = np.maximum(
                1,
                np.rint(
                    sub[boost_col].to_numpy(dtype=np.float64) * BOOST_SCALE
                ).astype(np.int64),
            )
            shards_b = docids >> shard_bits
            for sh in np.unique(shards_b):
                m = shards_b == sh
                boost_acc.setdefault(int(sh), []).append(
                    (docids[m], bq[m])
                )
        for f in fields:
            an = analyzers[f.name]
            col = sub[f.column]
            first = next((v for v in col if v is not None), None)
            multi = isinstance(first, (list, tuple, np.ndarray))
            pl = None
            if multi:
                # multi-valued field: values tokenized independently and
                # concatenated with position_gap between them
                # (document-writer.lisp:64-65 multi-value loop)
                gap = f.position_gap
                tl, pl = [], []
                for vs in col:
                    toks: list = []
                    poss: list = []
                    cur = 0
                    for j, v in enumerate(vs if vs is not None else []):
                        vt = (
                            an.tokens(v)
                            if an is not None
                            else ([v] if isinstance(v, str) and v != "" else [])
                        )
                        if j > 0:
                            cur += gap
                        toks.extend(vt)
                        poss.extend(range(cur, cur + len(vt)))
                        cur += len(vt)
                    if max_len:
                        toks, poss = toks[:max_len], poss[:max_len]
                    tl.append(toks)
                    pl.append(np.asarray(poss, dtype=np.int64))
            else:
                if an is None:
                    # untokenized: whole value is a single term
                    # (ref: document-writer.lisp:69-75 untokenized branch)
                    terms = col.map(
                        lambda v: [v] if isinstance(v, str) and v != "" else []
                    )
                else:
                    terms = an.tokens_series(col)
                if max_len:
                    terms = terms.map(lambda t: t[:max_len])
                tl = terms.tolist()
            nt = np.fromiter(
                (len(t) for t in tl), dtype=np.int64, count=len(tl)
            )
            ndocs[f.name] += len(tl)
            ntoks[f.name] += int(nt.sum())
            out_frames.extend(
                bufs[f.name].add(docids, nt, tl, shard_bits, pos_lists=pl)
            )
    for buf in bufs.values():
        out_frames.extend(buf.flush())
    if boost_acc:
        out_frames.append(
            pd.DataFrame(
                [
                    _cell_row(
                        BOOST_FIELD, BOOST_TERM, sh,
                        np.concatenate([d for d, _ in parts]),
                        np.concatenate([q for _, q in parts]),
                        np.concatenate([q for _, q in parts]),
                        None, block_size, codec,
                    )
                    for sh, parts in sorted(boost_acc.items())
                ],
                columns=POSTINGS_COLS,
            )
        )
    stats_rows = [
        {
            **{c: None for c in POSTINGS_COLS},
            "field": f.name,
            "term": STATS_TERM,
            "shard": -1,
            "df": ndocs[f.name],
            "cf": ntoks[f.name],
            "postings": b"",
            "positions": b"",
            "pos_off": np.empty(0, dtype=np.int64),
            "blk_first": np.empty(0, dtype=np.int64),
            "blk_last": np.empty(0, dtype=np.int64),
            "blk_n": np.empty(0, dtype=np.int32),
            "blk_off": np.empty(0, dtype=np.int64),
            "blk_codes_len": np.empty(0, dtype=np.int64),
            "blk_ext_len": np.empty(0, dtype=np.int64),
            "blk_maxtf": np.empty(0, dtype=np.int64),
            "blk_mindl": np.empty(0, dtype=np.int64),
            "blk_imp_n": np.empty(0, dtype=np.int32),
            "blk_imp_tf": np.empty(0, dtype=np.int64),
            "blk_imp_dl": np.empty(0, dtype=np.int64),
        }
        for f in fields
        if ndocs[f.name]
    ]
    if stats_rows:
        out_frames.append(pd.DataFrame(stats_rows, columns=POSTINGS_COLS))
    if out_frames:
        yield pd.concat(out_frames, ignore_index=True)


def merge_cell_rows(rows: list, block_size: int,
                    codec: str = "varint") -> dict:
    """Concatenate N cells of one (field, term) in docid order and re-encode
    — the append-postings merge (src/index/segment-merger.lisp:210-246).
    Valid for doclens marker cells too. Safe under the avgdl-free block-max
    metadata (bounds recomputed exactly from the merged tf/dl streams)."""
    rows = sorted(rows, key=lambda r: r.blk_first[0] if len(r.blk_first) else 0)
    all_d, all_t, all_dl, all_pos = [], [], [], []
    with_pos = any(len(r.pos_off) for r in rows)
    for r in rows:
        meta = row_meta(r)
        d, t, dl = decode_cell(bytes(r.postings), meta, codec=codec)
        all_d.append(d)
        all_t.append(t)
        all_dl.append(dl)
        if with_pos:
            nblocks = len(meta["n"])
            bounds = np.concatenate([[0], np.cumsum(meta["n"])])
            block_tfs = {
                j: t[bounds[j] : bounds[j + 1]] for j in range(nblocks)
            }
            pos = decode_positions(
                bytes(r.positions), list(r.pos_off), meta, block_tfs,
                codec=codec,
            )
            all_pos.append(
                np.concatenate([pos[j] for j in sorted(pos)])
                if pos
                else np.empty(0, dtype=np.int64)
            )
    docids = np.concatenate(all_d)
    tfs = np.concatenate(all_t)
    dls = np.concatenate(all_dl)
    if with_pos:
        flat = np.concatenate(all_pos)
        # positions stay doc-aligned because cells were concatenated in
        # ascending docid-range order
        pos_lists = np.split(flat, np.cumsum(tfs)[:-1])
    else:
        pos_lists = None
    return _cell_row(
        rows[0].field, rows[0].term, rows[0].shard, docids, tfs, dls,
        pos_lists, block_size, codec,
    )


def _make_cell_merger(block_size: int, codec: str = "varint"):
    """groupBy(field, shard, tbucket).applyInPandas fn. The overwhelmingly
    common case — every cell already complete inside one partition — is a
    zero-copy passthrough; only shard straddles re-encode."""

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[POSTINGS_COLS]
        if pdf["term"].is_unique:
            return pdf
        singles = pdf[~pdf["term"].duplicated(keep=False)]
        out = [singles] if len(singles) else []
        dups = pdf[pdf["term"].duplicated(keep=False)]
        merged_rows = [
            merge_cell_rows(
                list(grp.itertuples(index=False)), block_size, codec
            )
            for _, grp in dups.groupby("term", sort=False)
        ]
        out.append(pd.DataFrame(merged_rows, columns=POSTINGS_COLS))
        return pd.concat(out, ignore_index=True)

    return merge


def _rebase_iter(
    batches: Iterator[pd.DataFrame],
    base: int,
    shard_bits: int,
    block_size: int,
    codec: str = "varint",
) -> Iterator[pd.DataFrame]:
    """mapInPandas body for add-indexes: shift every docid by ``base`` and
    re-split cells at the new shard boundaries (a shifted cell can straddle
    them; all postings of one doc must land in one shard group)."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        out_rows = []
        for row in pdf.itertuples(index=False):
            meta = row_meta(row)
            docids, tfs, dls = decode_cell(
                bytes(row.postings), meta, codec=codec
            )
            if len(docids) == 0:
                continue
            d2 = docids + base
            pos_lists = None
            if bytes(row.positions):
                nblocks = len(meta["n"])
                bounds = np.concatenate(
                    [[0], np.cumsum(np.asarray(meta["n"], dtype=np.int64))]
                )
                block_tfs = {
                    j: tfs[bounds[j] : bounds[j + 1]] for j in range(nblocks)
                }
                pos_by_block = decode_positions(
                    bytes(row.positions), list(row.pos_off), meta, block_tfs,
                    codec=codec,
                )
                flat = (
                    np.concatenate([pos_by_block[j] for j in range(nblocks)])
                    if nblocks
                    else np.empty(0, dtype=np.int64)
                )
                pb = np.concatenate([[0], np.cumsum(tfs)])
                pos_lists = [flat[pb[i] : pb[i + 1]] for i in range(len(d2))]
            shards = d2 >> shard_bits
            s = 0
            while s < len(d2):
                e = int(np.searchsorted(shards, shards[s], side="right"))
                out_rows.append(
                    _cell_row(
                        row.field, row.term, int(shards[s]), d2[s:e],
                        tfs[s:e], dls[s:e],
                        pos_lists[s:e] if pos_lists is not None else None,
                        block_size, codec,
                    )
                )
                s = e
        if out_rows:
            yield pd.DataFrame(out_rows, columns=POSTINGS_COLS)


TERM_VECTORS_SCHEMA = (
    "docid long, field string, term string, tf long, positions array<int>"
)


def _uninvert_iter(
    batches: Iterator[pd.DataFrame],
    codec: str = "varint",
) -> Iterator[pd.DataFrame]:
    """mapInPandas body: decode cells back into per-doc term rows — the
    term-vectors sidecar (src/index/term-vectors-io.lisp:21-391) derived by
    UNINVERTING the postings instead of a second indexing pass."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        frames = []
        for row in pdf.itertuples(index=False):
            meta = row_meta(row)
            docids, tfs, dls = decode_cell(
                bytes(row.postings), meta, codec=codec
            )
            if len(docids) == 0:
                continue
            if bytes(row.positions):
                nblocks = len(meta["n"])
                bounds = np.concatenate(
                    [[0], np.cumsum(np.asarray(meta["n"], dtype=np.int64))]
                )
                block_tfs = {
                    j: tfs[bounds[j] : bounds[j + 1]] for j in range(nblocks)
                }
                pos_by_block = decode_positions(
                    bytes(row.positions), list(row.pos_off), meta, block_tfs,
                    codec=codec,
                )
                flat = np.concatenate(
                    [pos_by_block[j] for j in range(nblocks)]
                )
                pb = np.concatenate([[0], np.cumsum(tfs)])
                plists = [
                    flat[pb[i] : pb[i + 1]].astype(np.int32)
                    for i in range(len(docids))
                ]
            else:
                plists = [np.empty(0, dtype=np.int32)] * len(docids)
            frames.append(
                pd.DataFrame(
                    {
                        "docid": docids,
                        "field": row.field,
                        "term": row.term,
                        "tf": tfs,
                        "positions": plists,
                    }
                )
            )
        if frames:
            yield pd.concat(frames, ignore_index=True)


def term_vectors(index: "Index", docids: list[int] | None = None):
    """Per-doc term vectors (term, tf, positions) — get-term-vector analog.

    With ``docids`` the postings scan is block-pruned driver-side only by
    shard (cells are term-major); for bulk export leave docids=None and the
    whole table uninverts in one narrow pass. Scale note: output is
    ~index-sized; repartition by docid before joining doc-major consumers.
    """
    postings = index.postings.filter(F.col("term") != BOOST_TERM)
    if docids is not None:
        shards = sorted({d >> index.config.shard_bits for d in docids})
        postings = postings.filter(F.col("shard").isin(shards))
    codec = index.config.block_codec
    tv = postings.mapInPandas(
        lambda it: _uninvert_iter(it, codec), schema=TERM_VECTORS_SCHEMA
    )
    if docids is not None:
        tv = tv.filter(F.col("docid").isin([int(d) for d in docids]))
    return tv


TV_OFFSETS_SCHEMA = (
    "docid long, field string, term string, tf long, "
    "positions array<int>, starts array<int>, ends array<int>"
)


def _tv_offsets_iter(
    batches: Iterator[pd.DataFrame],
    fields: list[FieldConfig],
    max_len: int,
    offsets: dict[int, int],
) -> Iterator[pd.DataFrame]:
    """mapInPandas body for the OFFSETS term-vectors sidecar: re-analyze
    each doc with the scan path (token images + char offsets,
    tokenizers.py Tokenizer.scan → Analyzer.tokens_with_offsets) and emit
    one row per (docid, field, term) with tf-aligned positions / starts /
    ends — the term-vectors-io.lisp + term-vector-offset-info.lisp file
    family as a doc-major parquet sidecar. Opt-in (FieldConfig.offsets),
    like the reference's store-term-vector flag: the fused postings build
    never pays for it. Positions use the same numbering as the index
    (sequential over kept tokens)."""
    _tune_worker_gc()
    analyzers = {
        f.name: (get_analyzer(f.analyzer) if f.analyzer else None)
        for f in fields
    }
    counter = None
    last_key = None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        sub, docids, counter, last_key = _docid_batch(
            pdf, counter, last_key, offsets
        )
        if len(sub) == 0:
            continue
        rows = []
        for f in fields:
            an = analyzers[f.name]
            for docid, text in zip(docids, sub[f.column]):
                if not isinstance(text, str) or text == "":
                    continue
                toks = (
                    an.tokens_with_offsets(text)
                    if an is not None
                    else [(text, 0, len(text))]
                )
                if max_len:
                    toks = toks[:max_len]
                per_term: dict[str, list] = {}
                for pos, (img, s, e) in enumerate(toks):
                    per_term.setdefault(img, []).append((pos, s, e))
                for term, occ in per_term.items():
                    rows.append(
                        {
                            "docid": int(docid),
                            "field": f.name,
                            "term": term,
                            "tf": len(occ),
                            "positions": np.asarray(
                                [o[0] for o in occ], dtype=np.int32
                            ),
                            "starts": np.asarray(
                                [o[1] for o in occ], dtype=np.int32
                            ),
                            "ends": np.asarray(
                                [o[2] for o in occ], dtype=np.int32
                            ),
                        }
                    )
        if rows:
            yield pd.DataFrame(rows)


def _doclens_iter(batches: Iterator[pd.DataFrame],
                  codec: str = "varint") -> Iterator[pd.DataFrame]:
    """Decode doclens marker cells → (field, docid, dl, shard) rows."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        parts = []
        for row in pdf.itertuples(index=False):
            d, t, _ = decode_cell(
                bytes(row.postings), row_meta(row), codec=codec
            )
            parts.append(
                pd.DataFrame(
                    {
                        "field": row.field,
                        "docid": d,
                        "dl": t - 1,
                        "shard": row.shard,
                    }
                )
            )
        if parts:
            yield pd.concat(parts, ignore_index=True)


class Index:
    """A built inverted index: DataFrames + corpus stats + config."""

    def __init__(
        self,
        spark: SparkSession,
        config: IndexConfig,
        doc_map: DataFrame,
        doc_lens: DataFrame,
        postings: DataFrame,
        term_stats: DataFrame,
        stats: dict,
        index_dir: str | None = None,
        build_report: dict | None = None,
        tv_offsets: DataFrame | None = None,
    ):
        self.spark = spark
        self.config = config
        self.doc_map = doc_map
        self.doc_lens = doc_lens
        self.postings = postings
        self.term_stats = term_stats
        self.stats = stats  # field -> {"num_docs": int, "avgdl": float, "total_tokens": int}
        self.index_dir = index_dir
        self.build_report = build_report or {}
        # offsets term-vectors sidecar (FieldConfig.offsets fields only);
        # None when no field opted in
        self.tv_offsets = tv_offsets
        # saved-layout directories the driver-direct point reader serves
        # from (Searcher's local tier): the index_dir of a loaded index,
        # every segment's dir for a streaming union; None while the index
        # only exists as DataFrames
        self.saved_dirs: tuple | None = None
        self._saved_tables: dict = {}
        from montezuma_spark.index.deletions import load_holes, load_tombstones

        # sorted tombstoned docids (.del bitset analog — see deletions.py)
        self.tombstones: np.ndarray = load_tombstones(index_dir)
        # sorted docids PERMANENTLY removed by expunge: docids stay stable
        # (holes are never renumbered or reused), so a hole id names no
        # document forever — docid-level queries (DocIdSetQuery) must mask
        # them even though the postings no longer contain them. Persisted
        # in the holes.json sidecar; survives undelete_all by design.
        self.holes: np.ndarray = load_holes(index_dir)
        self._masked_cache: tuple | None = None
        # DataFrames build_index persisted for this index (see unpersist)
        self._build_cache: tuple = ()

    def unpersist(self) -> None:
        """Release the frames ``build_index`` persisted while building this
        index (the range-sorted source and the segment cells). The index
        stays usable: its frames recompute from lineage, or read the saved
        layout."""
        for df in self._build_cache:
            df.unpersist()
        self._build_cache = ()

    # ------------------------------------------------------------- deletions
    def delete_docs(self, docids) -> int:
        """Tombstone docids (delete-document analog,
        src/index/index-reader.lisp:129-137). Returns live doc count delta."""
        from montezuma_spark.index.deletions import save_tombstones

        before = len(self.tombstones)
        ids = np.asarray(list(docids), dtype=np.int64)
        # only LIVE ids tombstone: re-deleting an expunge hole (or an id
        # outside the known universe) must not inflate the set — num_docs
        # subtracts len(tombstones) and expunge bakes the count into the
        # corpus stats entry
        ids = ids[ids >= 0]
        if len(self.holes):
            ids = ids[~np.isin(ids, self.holes)]
        c = self.stats.get(CORPUS_STATS_KEY, {})
        if c.get("max_doc"):
            ids = ids[ids < int(c["max_doc"])]
        merged = np.union1d(self.tombstones, ids)
        self.tombstones = merged
        if self.index_dir:
            save_tombstones(self.index_dir, merged)
        return len(merged) - before

    def delete_docs_by_key(self, keys) -> int:
        """Delete by stable document key (url) — the key-based replace hook
        used by update (src/index/index.lisp:184-192, 266-328)."""
        from montezuma_spark.search.searcher import _terms_predicate

        keys = list(keys)
        if not keys:
            return 0
        rows = (
            self.doc_map.filter(_terms_predicate("key", keys))
            .select("docid")
            .collect()
        )
        return self.delete_docs([r["docid"] for r in rows])

    def undelete_all(self) -> None:
        """undelete-all analog (src/index/index-reader.lisp:139-146)."""
        from montezuma_spark.index.deletions import save_tombstones

        self.tombstones = np.empty(0, dtype=np.int64)
        if self.index_dir:
            save_tombstones(self.index_dir, self.tombstones)

    def has_deletions(self) -> bool:
        return len(self.tombstones) > 0

    def masked_docids(self) -> np.ndarray:
        """Tombstones ∪ expunge holes: every docid that must not match.
        Memoized by set sizes (delete_docs mutates tombstones in place —
        same invalidation convention as Searcher._tomb_df)."""
        key = (len(self.tombstones), len(self.holes))
        if self._masked_cache is None or self._masked_cache[0] != key:
            self._masked_cache = (
                key, np.union1d(self.tombstones, self.holes)
            )
        return self._masked_cache[1]

    def num_docs(self, field: str | None = None) -> int:
        """Live doc count (num-docs analog, segment-reader.lisp:170-178):
        total minus tombstones. Stats stay stale until expunge, like the
        reference's until-merge semantics."""
        if field:
            total = self.stats[field]["num_docs"]  # unknown field raises
        else:
            total = corpus_num_docs(self.stats)
        return total - len(self.tombstones)

    def expunge_deletes(self) -> "Index":
        from montezuma_spark.index.deletions import expunge_deletes

        return expunge_deletes(self)

    # ----------------------------------------------------------- add-indexes
    def add_indexes(self, *others: "Index") -> "Index":
        """Bulk-merge foreign indexes into this one — the add-indexes
        analog (src/index/index-writer.lisp:109-153). Each other index's
        docids are rebased past this index's max docid (the segment-base
        idiom, multi-reader.lisp:30-37); its cells are re-split at the new
        shard boundaries in one narrow mapInPandas (no shuffle). Fields
        must share analyzer config (field-infos merge is static here)."""
        def _universe(ix: "Index") -> int:
            """Docid universe bound of one input: holes mean the corpus
            entry (or, failing that, the live doc_map max) must win over
            per-field counts — rebasing at doc_map max + 1 would land the
            appended index's docids ON an input's tail holes, where
            masked_docids() would permanently hide them."""
            row = ix.doc_map.agg(F.max("docid")).collect()[0]
            live_hi = int(row[0]) + 1 if row[0] is not None else 0
            return max(live_hi, corpus_max_doc(ix.stats))

        base = _universe(self)
        postings_parts = [self.postings]
        doc_maps = [self.doc_map]
        doc_lens_parts = [self.doc_lens]
        stats = {
            f: dict(s) for f, s in self.stats.items()
        }
        tombs = [self.tombstones]
        holes_parts = [self.holes]
        sb, bs = self.config.shard_bits, self.config.block_size
        cdc = self.config.block_codec
        other_bases = []
        for o in others:
            b = base
            other_bases.append(b)
            postings_parts.append(
                o.postings.mapInPandas(
                    lambda it, _b=b: _rebase_iter(it, _b, sb, bs, cdc),
                    schema=POSTINGS_SCHEMA,
                )
            )
            doc_maps.append(
                o.doc_map.withColumn("docid", F.col("docid") + F.lit(b))
            )
            doc_lens_parts.append(
                o.doc_lens.withColumn("docid", F.col("docid") + F.lit(b))
                .withColumn("shard", F.shiftright("docid", sb))
            )
            for f, s in o.stats.items():
                agg = stats.setdefault(
                    f, {"num_docs": 0, "total_tokens": 0, "avgdl": 0.0}
                )
                agg["num_docs"] = agg.get("num_docs", 0) + s["num_docs"]
                agg["total_tokens"] = (
                    agg.get("total_tokens", 0) + s["total_tokens"]
                )
            if len(o.tombstones):
                tombs.append(o.tombstones + b)
            if len(o.holes):
                holes_parts.append(o.holes + b)
            base = b + _universe(o)
        # exact merged docid universe from the rebase arithmetic itself —
        # independent of whether the inputs carried a corpus entry; doc
        # count sums each input's corpus count (max-over-fields fallback)
        stats[CORPUS_STATS_KEY] = {
            "num_docs": sum(
                corpus_num_docs(ix.stats) for ix in (self, *others)
            ),
            "max_doc": int(base), "total_tokens": 0, "avgdl": 0.0,
        }
        for f, s in stats.items():
            s["avgdl"] = (
                s["total_tokens"] / s["num_docs"] if s["num_docs"] else 0.0
            )
        from functools import reduce

        postings = reduce(lambda a, c: a.unionByName(c), postings_parts)
        doc_map = reduce(
            lambda a, c: a.unionByName(c, allowMissingColumns=True), doc_maps
        )
        doc_lens = reduce(lambda a, c: a.unionByName(c), doc_lens_parts)
        term_stats = postings.filter(F.col("term") != BOOST_TERM).groupBy(
            "field", "term"
        ).agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        tvs = [self.tv_offsets] + [o.tv_offsets for o in others]
        tv_offsets = None
        if all(t is not None for t in tvs):
            # rebase each sidecar by the SAME bases used for its postings
            rebased = [tvs[0]]
            for b2, t in zip(other_bases, tvs[1:]):
                rebased.append(
                    t.withColumn("docid", F.col("docid") + F.lit(b2))
                )
            tv_offsets = reduce(lambda a, c: a.unionByName(c), rebased)
        merged = Index(
            self.spark, self.config, doc_map, doc_lens, postings,
            term_stats, stats, index_dir=None,
            build_report={"added_indexes": len(others)},
            tv_offsets=tv_offsets,
        )
        merged.tombstones = np.sort(np.concatenate(tombs))
        merged.holes = np.sort(np.concatenate(holes_parts))
        return merged

    def term_vectors(self, docids: list[int] | None = None,
                     with_offsets: bool = False):
        """Per-doc (field, term, tf, positions) rows — the term-vectors
        sidecar (term-vectors-io.lisp) via uninversion; see
        builder.term_vectors. ``with_offsets=True`` returns the offsets
        sidecar instead ((…, starts, ends) char offsets,
        term-vector-offset-info.lisp) — requires the index to have been
        built with ``FieldConfig.offsets=True`` fields."""
        if with_offsets:
            if self.tv_offsets is None:
                raise ValueError(
                    "no offsets sidecar: build with FieldConfig(offsets=True)"
                )
            tv = self.tv_offsets
            if docids is not None:
                tv = tv.filter(F.col("docid").isin([int(d) for d in docids]))
            return tv
        return term_vectors(self, docids)

    # -------------------------------------------------------------- optimize
    def optimize(self) -> "Index":
        """Merge multi-row cells (partition-edge straddles / streaming
        segments) into one cell per (field, term, shard) — the optimize
        analog (src/index/index-writer.lisp:94-107). One shuffle of
        compressed cells, grouped (field, shard, term-bucket) so hot terms
        stay split across docid shards."""
        merger = _make_cell_merger(
            self.config.block_size, self.config.block_codec
        )
        postings = (
            self.postings.withColumn(
                "tbucket", F.pmod(F.xxhash64("term"), F.lit(ENCODE_BUCKETS))
            )
            .groupBy("field", "shard", "tbucket")
            .applyInPandas(merger, schema=POSTINGS_SCHEMA)
        )
        out = Index(
            self.spark, self.config, self.doc_map, self.doc_lens, postings,
            self.term_stats, self.stats, index_dir=None,
            build_report=dict(self.build_report),
            tv_offsets=self.tv_offsets,  # docids unchanged by optimize
        )
        out.holes = self.holes  # docids unchanged → holes unchanged
        return out

    # ------------------------------------------------------------------ save
    def save(self, index_dir: str) -> "Index":
        os.makedirs(index_dir, exist_ok=True)
        # docid-range layout: get_document / highlight / key-hydration
        # lookups are docid point predicates — range-sorted files prune to
        # one file via parquet min/max (same idea as the term_stats .tii
        # layout, applied to the stored-fields table)
        self.doc_map.repartitionByRange("docid").sortWithinPartitions(
            "docid"
        ).write.mode("overwrite").parquet(f"{index_dir}/doc_map")
        self.doc_lens.repartition("field").write.mode("overwrite").parquet(
            f"{index_dir}/doc_lens"
        )
        # range-layout by (field, term) so query-term predicates prune files
        # via parquet min/max — the .tii two-level dictionary analog
        # (src/index/term-infos-io.lisp:19-36)
        self.postings.repartitionByRange("field", "term").sortWithinPartitions(
            "field", "term", "shard"
        ).write.mode("overwrite").parquet(f"{index_dir}/postings")
        # term_stats shares the range layout: per-query dictionary pushdown
        # (exact isin / range BETWEEN / wildcard prefix) prunes files via
        # parquet min/max — the .tii two-level seek without a driver vocab
        self.term_stats.repartitionByRange(
            "field", "term"
        ).sortWithinPartitions("field", "term").write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/term_stats")
        if self.tv_offsets is not None:
            # doc-major layout: highlighting fetches by docid (sorted
            # within files too, so row-group stats prune as well)
            self.tv_offsets.repartitionByRange("docid").sortWithinPartitions(
                "docid"
            ).write.mode("overwrite").parquet(f"{index_dir}/term_vectors")
        meta = {
            "config": self.config.to_json(),
            "stats": self.stats,
            "build_report": self.build_report,
        }
        with open(f"{index_dir}/meta.json", "w") as fh:
            json.dump(meta, fh, indent=2)
        from montezuma_spark.index.deletions import (
            save_holes,
            save_tombstones,
        )

        if len(self.holes):
            save_holes(index_dir, self.holes)
        if len(self.tombstones):
            # an in-memory index's delete_docs had no dir to persist to —
            # without this, save() would silently resurrect deleted docs
            save_tombstones(index_dir, self.tombstones)
        return Index.load(self.spark, index_dir)

    @staticmethod
    def load(spark: SparkSession, index_dir: str) -> "Index":
        with open(f"{index_dir}/meta.json") as fh:
            meta = json.load(fh)
        tv_dir = f"{index_dir}/term_vectors"
        idx = Index(
            spark,
            IndexConfig.from_json(meta["config"]),
            spark.read.parquet(f"{index_dir}/doc_map"),
            spark.read.parquet(f"{index_dir}/doc_lens"),
            spark.read.parquet(f"{index_dir}/postings"),
            spark.read.parquet(f"{index_dir}/term_stats"),
            meta["stats"],
            index_dir=index_dir,
            build_report=meta.get("build_report", {}),
            tv_offsets=(
                spark.read.parquet(tv_dir) if os.path.isdir(tv_dir) else None
            ),
        )
        # the saved-layout marker: self.postings/term_stats are literally
        # these parquet directories, so the driver-direct point reader
        # (Searcher's local tier) may serve them without a Spark job. A
        # streaming union of saved segments lists every segment's dir
        # (IncrementalIndexer._union_index); other derived indexes
        # (add_indexes, optimize, expunge) stay DataFrame-only.
        idx.saved_dirs = (index_dir,)
        return idx

    def _saved_table(self, name: str):
        if not self.saved_dirs:
            return None
        tbl = self._saved_tables.get(name)
        if tbl is None:
            from montezuma_spark.index.pointread import SavedTable

            tbl = SavedTable([f"{d}/{name}" for d in self.saved_dirs])
            self._saved_tables[name] = tbl
        return tbl

    def _postings_dataset(self):
        """Point reader over the saved postings (None for unsaved
        indexes) — see Searcher._fetch_postings_pdf."""
        return self._saved_table("postings")

    def _term_stats_dataset(self):
        """Point reader over the saved term_stats (None for unsaved
        indexes): exact df seeks read the range-sorted dictionary
        driver-direct instead of scheduling a Spark job."""
        return self._saved_table("term_stats")


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    config: IndexConfig | None = None,
    index_dir: str | None = None,
    resume: bool = False,
    docid_base: int = 0,
) -> Index:
    """Build the inverted index over ``docs``.

    With ``index_dir`` the fused segment stage is checkpointed per partition
    and ``resume=True`` skips partitions already built (see checkpoint.py).
    """
    config = config or IndexConfig()
    t0 = time.time()
    nparts = config.num_partitions or spark.sparkContext.defaultParallelism
    src_cols = [config.key_col] + sorted(
        {f.column for f in config.fields}
        | set(config.store_cols)
        | ({config.boost_col} if config.boost_col else set())
    )
    # Cached here for the local bench (3 passes: key counts, segment build,
    # doc_map). On a real cluster over Iceberg you would skip the persist —
    # the range-sorted scan is deterministic and recompute is cheaper than
    # caching 100 TB; resume is covered by the per-partition checkpoints.
    ranged = (
        docs.select(F.col(config.key_col).alias("key"),
                    *[c for c in src_cols if c != config.key_col])
        .repartitionByRange(nparts, "key")
        .sortWithinPartitions("key")
        .withColumn("pid", F.spark_partition_id())
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # --- docid bases: rank-of-key via per-partition key counts (JVM only) ---
    pid_counts = (
        ranged.groupBy("pid")
        .agg(F.countDistinct("key").alias("n"))
        .orderBy("pid")
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = docid_base  # segment base for incremental/streaming builds
    for row in pid_counts:
        offsets[row["pid"]] = acc
        acc += row["n"]
    total_docs = acc - docid_base

    fields = config.fields
    max_len = config.max_field_length

    def fused(it):
        return _segment_iter(
            it, fields, max_len, config.shard_bits, config.block_size,
            offsets, boost_col=config.boost_col,
            codec=config.block_codec,
        )

    if index_dir:
        from montezuma_spark.index.checkpoint import checkpointed_segments

        cells, seg_report = checkpointed_segments(
            spark, ranged, fused, f"{index_dir}/segment_cells", resume
        )
    else:
        cells = ranged.mapInPandas(fused, schema=POSTINGS_SCHEMA)
        seg_report = {}

    # No merge shuffle in the hot path: a shard straddling a partition edge
    # simply yields 2+ cell rows for the same (field, term, shard) — the
    # query kernel already concatenates them in docid order at decode time
    # (the multi-term-doc-enum analog, src/index/multi-reader.lisp:225-318).
    # ``Index.optimize()`` / streaming ``compact()`` perform the explicit
    # sort-merge into single cells when wanted (optimize analog,
    # src/index/index-writer.lisp:94-107).
    postings_all = cells.persist(StorageLevel.MEMORY_AND_DISK)

    doc_lens = postings_all.filter(
        F.col("term") == DOCLENS_TERM
    ).mapInPandas(
        lambda it: _doclens_iter(it, config.block_codec),
        schema=DOC_LENS_SCHEMA,
    )
    postings = postings_all.filter(~F.col("term").isin(*MARKER_TERMS))

    # stats job — materializes (and caches) the whole postings build once;
    # a JVM-only agg over the per-partition stats marker rows
    stats_rows = (
        postings_all.filter(F.col("term") == STATS_TERM)
        .groupBy("field")
        .agg(F.sum("df").alias("num_docs"), F.sum("cf").alias("total_tokens"))
        .collect()
    )
    stats = {
        r["field"]: {
            "num_docs": int(r["num_docs"]),
            "avgdl": float(r["total_tokens"] / r["num_docs"])
            if r["num_docs"]
            else 0.0,
            "total_tokens": int(r["total_tokens"] or 0),
        }
        for r in stats_rows
    }
    # corpus doc count + docid universe (maxDoc analog): authoritative for
    # the DocIdSet clamp and num_docs — per-field counts can diverge from
    # both after heterogeneous add_indexes merges. The universe bound is
    # docid_base + total_docs: a streaming segment's docids start at its
    # base, so its own bound must cover them
    if total_docs:  # empty corpus keeps stats == {} (edge-case contract)
        stats[CORPUS_STATS_KEY] = {
            "num_docs": int(total_docs), "max_doc": int(acc),
            "avgdl": 0.0, "total_tokens": 0,
        }

    # --- doc_map: JVM-only dense_rank over the same key sort ----------------
    offset_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "pid int, offset long"
    )
    w = Window.partitionBy("pid").orderBy("key")
    doc_map = (
        ranged.select("pid", "key", *config.store_cols)
        .withColumn("rank", F.dense_rank().over(w))
        .join(F.broadcast(offset_df), "pid")
        .withColumn("docid", F.col("offset") + F.col("rank") - 1)
        .select("docid", "key", *config.store_cols)
        .dropDuplicates(["docid"])
    )

    term_stats = postings.filter(F.col("term") != BOOST_TERM).groupBy(
        "field", "term"
    ).agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))

    # offsets term-vectors sidecar — separate opt-in pass over the same
    # ranged scan (identical docid assignment), never in the fused build
    tv_fields = [f for f in fields if f.offsets]
    tv_offsets = None
    if tv_fields:
        def tvfn(it):
            return _tv_offsets_iter(it, tv_fields, max_len, offsets)

        tv_offsets = ranged.mapInPandas(tvfn, schema=TV_OFFSETS_SCHEMA)

    build_seconds = time.time() - t0
    report = {
        "total_docs": total_docs,
        "partitions": nparts,
        "build_seconds": build_seconds,
        "docs_per_sec": round(total_docs / build_seconds, 2)
        if build_seconds > 0
        else None,
        **seg_report,
    }
    idx = Index(
        spark, config, doc_map, doc_lens, postings, term_stats, stats,
        index_dir=index_dir, build_report=report, tv_offsets=tv_offsets,
    )
    if index_dir:
        idx = idx.save(index_dir)
        idx.build_report["build_seconds"] = time.time() - t0
    idx._build_cache = (ranged, postings_all)
    return idx
