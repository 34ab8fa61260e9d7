"""Per-shard vectorized query-evaluation kernel (numpy, runs in applyInPandas).

This replaces the reference's doc-at-a-time scorer tree
(src/search/scorer.lisp, conjunction-scorer.lisp, disjunction-sum-scorer.lisp,
req-excl-scorer.lisp, phrase-scorer.lisp) with term-at-a-time array ops:

* term        → whole-cell varint decode + BM25 over arrays
                (term-scorer.lisp:5-91 → one numpy expression)
* MUST        → progressive sorted-array intersection, smallest df first,
                with block skipping: larger terms decode only blocks whose
                [first,last] ranges contain surviving candidates — the
                leapfrog skip-to analog (conjunction-scorer.lisp:45-73,
                term-doc-enum.lisp:124-163) at block granularity
* SHOULD      → union + score sum via np.unique/np.add.at
                (disjunction-sum-scorer.lisp:40-108)
* MUST_NOT    → sorted setdiff (req-excl-scorer.lisp:8-64)
* phrase      → intersect postings, then block-selective positions decode and
                shifted-position intersection (exact-phrase-scorer.lisp:6-22)
                or min-window sweep within slop (sloppy-phrase-scorer.lisp:6-34)

Scoring is BM25 (north star; replaces the reference's TF-IDF,
src/search/similarity.lisp:138-169):
    idf(t)   = ln(1 + (N - df + 0.5)/(df + 0.5))
    score    = Σ_t idf(t)·boost · tf(k1+1) / (tf + k1(1 − b + b·dl/avgdl))
Determinism: docids are processed in sorted order, clause contributions are
summed in fixed clause order → bit-identical across runs and parallelism.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from montezuma_spark.codec.postings import (
    BOOST_SCALE,
    BOOST_TERM,
    CORPUS_STATS_KEY,
    decode_cell,
    decode_cell_rows,
    decode_positions_rows,
)
from montezuma_spark.search.ast import (
    FILTER,
    MUST,
    MUST_NOT,
    SHOULD,
    BooleanQuery,
    ConstantScoreQuery,
    DocIdSetQuery,
    MatchAllQuery,
    MultiPhraseQuery,
    PhraseQuery,
    Query,
    SpanNearQuery,
    TermQuery,
)


@dataclass(frozen=True)
class MultiTermGroup(Query):
    """Compiled form of range/wildcard: a disjunction of concrete terms
    (each scored with its own idf), produced by the driver-side dictionary
    scan (the rewrite of src/search/multi-term-query.lisp:12-25)."""

    field: str
    terms: tuple[str, ...]
    boost: float = 1.0


@dataclass
class CompiledPlan:
    query: Query
    idf: dict  # (field, term) -> idf
    df_est: dict  # (field, term) -> global df (for MUST ordering)
    stats: dict  # field -> {"num_docs", "avgdl"}
    k1: float
    b: float
    k: int | None  # top-k per shard; None = return all matches
    need_positions: bool
    # pluggable scoring fn (search/similarity.py); None = BM25(k1, b).
    # Ships inside the plan, so custom similarities reach every shard.
    similarity: object | None = None
    # posting-block stream codec of the index ("varint" | "packed")
    codec: str = "varint"
    # reference weight-pipeline scalar (1/sqrt(sum of squared clause
    # weights), query.lisp:9-15) — 1.0 unless the similarity sets
    # normalize_query; applied once to final scores (ranking-safe)
    query_norm: float = 1.0
    # sorted tombstoned docids (the .del bitset analog,
    # src/util/bit-vector.lisp + segment-reader.lisp:106-113). Shipped
    # inside the serialized plan = a broadcast to every shard kernel;
    # excluded at decode time, BEFORE top-k truncation, exactly like the
    # reference's term-doc-enum deleted-doc skip (term-doc-enum.lisp:85-98).
    deleted: np.ndarray | None = None


_EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))

# below this many postings a single vectorized full decode beats the
# per-round python overhead of the pruned term path and the span early
# exit (see _try_pruned_term)
PRUNE_MIN_POSTINGS = 1 << 16

# marker field for tombstone rows riding the doc_lens cogroup: delete sets
# too large to broadcast inside the plan reach each shard kernel as rows
# (TOMB_FIELD, docid, 0) unioned into the lens table — each task receives
# ONLY its shard's slice (searcher._execute, the MatchAll analog of
# make_kernel_cogrouped_tombstones)
TOMB_FIELD = "\x00tomb"

# lightweight parsed form of one postings-cell row. pandas itertuples costs
# ~45 us/row of pure accessor overhead (and rebuilds its namedtuple class
# per call) — at ~20 cells/query that was 74% of driver-local serving
# latency; a one-time parse into these tuples makes per-query cell access
# free.
CELL_COLS = ("field", "term", "shard", "postings", "positions", "pos_off",
             "blk_first", "blk_last", "blk_n", "blk_off", "blk_codes_len",
             "blk_ext_len", "blk_maxtf", "blk_mindl",
             "blk_imp_n", "blk_imp_tf", "blk_imp_dl")


class CellRow:
    """One parsed cell row. ``full`` memoizes the FULL-cell decode
    (docids, tfs, dls) and ``full_pos`` the full positions stream, each
    set only when a query happens to decode every block: rows in the
    Searcher's cell cache are shared across queries, and a cell's decode
    is query-independent, so later queries reuse the memo (callers never
    mutate the returned arrays — they mask/copy). Cost: ~24 B/posting
    (~8 B/position), charged against the cell cache's byte budget.
    Worker-side rows are per-task, where the memo is a same-query one."""

    __slots__ = (*CELL_COLS, "full", "full_pos")

    def __init__(self, field, term, shard, postings, positions, pos_off,
                 blk_first, blk_last, blk_n, blk_off, blk_codes_len,
                 blk_ext_len, blk_maxtf, blk_mindl,
                 blk_imp_n=None, blk_imp_tf=None, blk_imp_dl=None):
        self.field = field
        self.term = term
        self.shard = shard
        self.postings = postings
        self.positions = positions
        self.pos_off = pos_off
        self.blk_first = blk_first
        self.blk_last = blk_last
        self.blk_n = blk_n
        self.blk_off = blk_off
        self.blk_codes_len = blk_codes_len
        self.blk_ext_len = blk_ext_len
        self.blk_maxtf = blk_maxtf
        self.blk_mindl = blk_mindl
        self.blk_imp_n = blk_imp_n
        self.blk_imp_tf = blk_imp_tf
        self.blk_imp_dl = blk_imp_dl
        self.full = None
        self.full_pos = None


def rows_from_pandas(pdf: pd.DataFrame) -> list[CellRow]:
    """Parse a postings-cell pandas frame into CellRow tuples — ONE pass
    of column-array zips, no per-row pandas indexing."""
    n = len(pdf)
    cols = []
    for c in CELL_COLS:
        if c in pdf.columns:
            cols.append(pdf[c].to_numpy())
        else:
            cols.append(np.empty(n, dtype=object))
    return [CellRow(*vals) for vals in zip(*cols)]


class ShardEval:
    """Evaluates a compiled plan against one shard's postings + doc lens."""

    def __init__(self, plan: CompiledPlan, postings_pdf: pd.DataFrame,
                 lens_pdf: pd.DataFrame | None = None,
                 deleted: np.ndarray | None = None):
        from montezuma_spark.search.similarity import BM25Similarity

        self.plan = plan
        self.sim = plan.similarity or BM25Similarity(k1=plan.k1, b=plan.b)
        # classic weight pipeline: score with idf² per term (term-weight
        # value = query_weight·idf, term-query.lisp:29-36); the query_norm
        # scalar is applied once in eval_top
        self.normalize = bool(getattr(self.sim, "normalize_query", False))
        # tombstones: either the plan-shipped broadcast array (small delete
        # sets) or this shard's slice of the tombstone TABLE delivered via
        # cogroup (massive delete sets — see searcher._execute)
        self.deleted = deleted if deleted is not None else plan.deleted
        # (field, term) → list of cell rows. Normally one row per key; a
        # multi-segment (streaming) index contributes one row per segment,
        # with disjoint ascending docid ranges (segment bases are allocated
        # monotonically) — merged at decode time by first-docid order, the
        # multi-term-doc-enum analog (src/index/multi-reader.lisp:225-318).
        self.cells: dict = {}
        boost_rows = []
        rows = (
            postings_pdf
            if isinstance(postings_pdf, list)
            else rows_from_pandas(postings_pdf)
        )
        for r in rows:
            if r.term == BOOST_TERM:
                boost_rows.append(r)
                continue
            self.cells.setdefault((r.field, r.term), []).append(r)
        for rows in self.cells.values():
            if len(rows) > 1:
                rows.sort(key=lambda r: r.blk_first[0] if len(r.blk_first) else 0)
        # per-doc index-time boosts (marker cells): sorted docid -> boost
        # multiplier; max_boost keeps WAND upper bounds valid under boosting
        self.boost_d = None
        self.boost_v = None
        self.max_boost = 1.0
        if boost_rows:
            parts = [
                decode_cell(
                    bytes(r.postings),
                    {
                        "first": list(r.blk_first), "last": list(r.blk_last),
                        "n": list(r.blk_n), "off": list(r.blk_off),
                        "codes_len": list(r.blk_codes_len),
                        "ext_len": list(r.blk_ext_len),
                        "maxtf": list(r.blk_maxtf),
                        "mindl": list(r.blk_mindl),
                    },
                    codec=plan.codec,
                )
                for r in boost_rows
            ]
            d = np.concatenate([p[0] for p in parts])
            q = np.concatenate([p[1] for p in parts])
            order = np.argsort(d)
            self.boost_d = d[order]
            self.boost_v = q[order].astype(np.float64) / BOOST_SCALE
            # clamp: every doc WITHOUT a boost entry scores with an implicit
            # 1.0, so a shard whose covered boosts are all demotions (< 1)
            # must still bound with 1.0 or WAND could prune a true top-k
            # doc (round-2 advice)
            self.max_boost = max(1.0, float(self.boost_v.max()))
        self.lens = {}
        if lens_pdf is not None and len(lens_pdf):
            tomb_mask = lens_pdf["field"] == TOMB_FIELD
            if tomb_mask.any():
                tomb = np.sort(
                    lens_pdf.loc[tomb_mask, "docid"].to_numpy(np.int64)
                )
                self.deleted = (
                    tomb
                    if self.deleted is None
                    else np.unique(np.concatenate([self.deleted, tomb]))
                )
                lens_pdf = lens_pdf[~tomb_mask]
        if lens_pdf is not None and len(lens_pdf):
            for f, grp in lens_pdf.groupby("field"):
                d = grp["docid"].to_numpy(dtype=np.int64)
                order = np.argsort(d)
                self.lens[f] = (d[order], grp["dl"].to_numpy(dtype=np.int64)[order])

    # ---------------------------------------------------------------- helpers
    def rebind(self, plan: CompiledPlan) -> "ShardEval":
        """Cheap per-plan view sharing the parsed cell buckets, boost
        arrays and lens map — bucketing rows into the (field, term) →
        cells dict is plan-independent, so the batch kernel builds it
        ONCE per task and rebinds per query instead of re-walking every
        CellRow |batch| times. Shared CellRow decode memos stay valid:
        a cell decode is query-independent and callers never mutate the
        returned arrays."""
        from montezuma_spark.search.similarity import BM25Similarity

        ev = object.__new__(ShardEval)
        ev.plan = plan
        ev.sim = plan.similarity or BM25Similarity(k1=plan.k1, b=plan.b)
        ev.normalize = bool(getattr(ev.sim, "normalize_query", False))
        ev.deleted = plan.deleted
        ev.cells = self.cells
        ev.boost_d = self.boost_d
        ev.boost_v = self.boost_v
        ev.max_boost = self.max_boost
        ev.lens = self.lens
        return ev

    def _meta(self, row):
        # int64 array views, never list(): boxing every per-block value
        # to PyObjects cost ~316 rows × 8 fields × O(blocks) per hot
        # multi-cell query; every consumer (decode_cell/_rows,
        # block_upper_bounds, _blocks_for) np.asarray()s these anyway
        return {
            "first": np.asarray(row.blk_first, dtype=np.int64),
            "last": np.asarray(row.blk_last, dtype=np.int64),
            "n": np.asarray(row.blk_n, dtype=np.int64),
            "off": np.asarray(row.blk_off, dtype=np.int64),
            "codes_len": np.asarray(row.blk_codes_len, dtype=np.int64),
            "ext_len": np.asarray(row.blk_ext_len, dtype=np.int64),
            "maxtf": np.asarray(row.blk_maxtf, dtype=np.int64),
            "mindl": np.asarray(row.blk_mindl, dtype=np.int64),
        }

    def _blocks_for(self, meta, candidates: np.ndarray | None):
        """Indices of blocks containing any candidate docid (skip-to analog)."""
        nb = len(meta["n"])
        if candidates is None or nb == 0:
            return None  # all blocks
        first = np.asarray(meta["first"], dtype=np.int64)
        last = np.asarray(meta["last"], dtype=np.int64)
        # block j needed iff ∃ candidate c with first[j] <= c <= last[j]
        lo = np.searchsorted(candidates, first, side="left")
        needed = (lo < len(candidates)) & (
            candidates[np.clip(lo, 0, len(candidates) - 1)] <= last
        )
        sel = np.flatnonzero(needed)
        return sel if len(sel) < nb else None

    def _decode_row(self, row, candidates=None, with_block_info=False):
        if not with_block_info:
            full = getattr(row, "full", None)
            if full is not None:
                # cached full decode: a superset of any block selection —
                # every caller restricts/intersects afterwards
                return full
        meta = self._meta(row)
        sel = self._blocks_for(meta, candidates)
        blocks = sel if sel is not None else np.arange(len(meta["n"]))
        docids, tfs, dls = decode_cell(
            bytes(row.postings), meta, blocks=blocks, codec=self.plan.codec
        )
        if not with_block_info and sel is None and hasattr(row, "full"):
            row.full = (docids, tfs, dls)
        if with_block_info:
            ns = np.asarray(meta["n"], dtype=np.int64)[blocks]
            block_of = np.repeat(blocks, ns)
            return docids, tfs, dls, block_of, (row, meta, blocks)
        return docids, tfs, dls

    def _drop_deleted(self, docids, *parallel):
        """Mask tombstoned docids out of a decoded (sorted) posting run."""
        dele = self.deleted
        if dele is None or len(dele) == 0 or len(docids) == 0:
            return (docids, *parallel)
        idx = np.clip(np.searchsorted(dele, docids), 0, len(dele) - 1)
        keep = dele[idx] != docids
        if keep.all():
            return (docids, *parallel)
        return (docids[keep], *(a[keep] for a in parallel))

    def _decode(self, field, term, candidates=None):
        rows = self.cells.get((field, term))
        if not rows:
            return _EMPTY[0], _EMPTY[0], _EMPTY[0]
        if len(rows) == 1:
            return self._drop_deleted(*self._decode_row(rows[0], candidates))
        # multi-cell term (one cell per docid-range shard / segment):
        # batch every uncached row into ONE vectorized decode pass per
        # stream (decode_cell_rows) — per-cell python overhead across
        # hundreds of shard cells dominated hot-term serving otherwise.
        d, t, dl, _handles = self._decode_with_handles(
            field, term, candidates
        )
        return d, t, dl

    def _decode_with_handles(self, field, term, candidates=None):
        """``_decode`` that also returns the per-row decode handles so a
        positional pass can reuse the doc streams instead of re-decoding
        them (the phrase/span paths decode each term's cells exactly
        ONCE). Returns (docids, tfs, dls, handles); handles are raw
        (pre-tombstone) per-row tuples (row, sel, d, t, ns_sel) in row
        order — sel = selected block indices (None = all), ns_sel = the
        per-selected-block posting counts. Rows are sorted by blk_first
        with disjoint docid ranges, so list-order concatenation stays
        globally docid-sorted."""
        rows = self.cells.get((field, term))
        if not rows:
            return _EMPTY[0], _EMPTY[0], _EMPTY[0], []
        parts: list = [None] * len(rows)
        handles: list = [None] * len(rows)
        batch, batch_idx, batch_sel, batch_ns = [], [], [], []
        for i, r in enumerate(rows):
            full = getattr(r, "full", None)
            if full is not None:
                # memoized full decode: only blk_n is needed for the
                # handle — never rebuild the whole metadata dict here
                parts[i] = full
                handles[i] = (
                    r, None, full[0], full[1],
                    np.asarray(r.blk_n, dtype=np.int64),
                )
                continue
            meta = self._meta(r)
            ns = meta["n"]
            sel = self._blocks_for(meta, candidates)
            batch.append((bytes(r.postings), meta, sel))
            batch_idx.append(i)
            batch_sel.append(sel)
            batch_ns.append(ns if sel is None else ns[sel])
        if batch:
            d, t, dl, row_n = decode_cell_rows(batch, codec=self.plan.codec)
            ends = np.cumsum(row_n)
            for k, i in enumerate(batch_idx):
                s, e = ends[k] - row_n[k], ends[k]
                parts[i] = (d[s:e], t[s:e], dl[s:e])
                handles[i] = (
                    rows[i], batch_sel[k], d[s:e], t[s:e], batch_ns[k]
                )
                if batch_sel[k] is None and hasattr(rows[i], "full"):
                    # copy out of the whole-batch decode buffer: a memo
                    # holding slice VIEWS would pin every row's streams
                    # for one row's lifetime (shared cache-tier rows)
                    rows[i].full = tuple(
                        np.array(a, copy=True) for a in parts[i]
                    )
        out = self._drop_deleted(
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
            np.concatenate([p[2] for p in parts]),
        )
        return (*out, handles)

    def _positions_flat_handles(self, wanted: np.ndarray, handles: list):
        """Positions of ``wanted`` docids using the decode handles from
        ``_decode_with_handles`` — the doc streams are NOT re-decoded.
        Narrows each row's block selection to blocks actually containing
        a wanted docid before touching position bytes, then decodes all
        surviving (row, block) position segments in one batched pass.

        Cross-query memo (shared rows, e.g. the cell LRU cache tier): a
        row whose positional decode happened to cover ALL blocks yields
        exactly the full positions stream, so it's stored as
        ``row.full_pos`` for free and reused by later queries. Narrowed
        decodes never memoize (the stream would be partial) and never
        get slower."""
        W = len(wanted)
        pos_rows, d_parts, t_parts = [], [], []
        flat_parts: list = []  # per-row flat positions (None = pending)
        pending: list = []  # (flat_parts idx, row, memoize?, d_k, t_k)
        for (row, sel, d, t, ns_sel) in handles:
            if len(d) == 0:
                continue
            fp = getattr(row, "full_pos", None)
            if fp is not None:
                fd, ft, fflat, _fpb = fp
                lo = np.searchsorted(wanted, fd[0])
                hi = np.searchsorted(wanted, fd[-1], side="right")
                if lo == hi:
                    continue
                d_parts.append(fd)
                t_parts.append(ft)
                flat_parts.append(fflat)
                continue
            lo = np.searchsorted(wanted, d[0])
            hi = np.searchsorted(wanted, d[-1], side="right")
            if lo == hi:
                continue
            w_row = wanted[lo:hi]
            # per-selected-block [first, last] from the decoded stream
            bb = np.cumsum(ns_sel)
            firsts, lasts = d[bb - ns_sel], d[bb - 1]
            kidx_lo = np.searchsorted(w_row, firsts, side="left")
            needed = (kidx_lo < len(w_row)) & (
                w_row[np.clip(kidx_lo, 0, len(w_row) - 1)] <= lasts
            )
            kidx = np.flatnonzero(needed)
            if len(kidx) == 0:
                continue
            if len(kidx) == len(ns_sel):
                d_k, t_k, ns_k = d, t, ns_sel
                blocks = sel
            else:
                # gather the surviving blocks' decoded runs (one fancy
                # gather, no per-block python slicing)
                ns_k = ns_sel[kidx]
                gidx = self._run_gidx((bb - ns_sel)[kidx], ns_k)
                d_k, t_k = d[gidx], t[gidx]
                blocks = (
                    kidx if sel is None else np.asarray(sel, dtype=np.int64)[kidx]
                )
            pos_rows.append(
                (bytes(row.positions), list(row.pos_off), blocks, t_k, ns_k)
            )
            d_parts.append(d_k)
            t_parts.append(t_k)
            flat_parts.append(None)
            pending.append((
                len(flat_parts) - 1, row,
                sel is None and len(kidx) == len(ns_sel), d_k, t_k,
            ))
        if not d_parts:
            return np.empty(0, dtype=np.int64), np.zeros(W, dtype=np.int64)
        if pos_rows:
            flat_new = decode_positions_rows(pos_rows, codec=self.plan.codec)
            fb = 0
            for (fi, row, full_cover, d_k, t_k) in pending:
                fe = fb + int(t_k.sum())
                fk = flat_new[fb:fe]
                flat_parts[fi] = fk
                fb = fe
                if full_cover and hasattr(row, "full_pos"):
                    # copies, not views — see the row.full memo note
                    row.full_pos = (
                        np.array(d_k, copy=True), np.array(t_k, copy=True),
                        np.array(fk, copy=True),
                        np.concatenate([[0], np.cumsum(t_k)]),
                    )
        flat = (
            flat_parts[0]
            if len(flat_parts) == 1
            else np.concatenate(flat_parts)
        )
        d_all = np.concatenate(d_parts) if len(d_parts) > 1 else d_parts[0]
        t_all = np.concatenate(t_parts) if len(t_parts) > 1 else t_parts[0]
        pb = np.concatenate([[0], np.cumsum(t_all)])
        idx = np.searchsorted(d_all, wanted)
        idx_c = np.clip(idx, 0, len(d_all) - 1)
        found = d_all[idx_c] == wanted
        lens = np.where(found, pb[idx_c + 1] - pb[idx_c], 0)
        return self._gather_runs(flat, pb[idx_c], lens), lens

    def _doc_boost(self, docids: np.ndarray) -> np.ndarray | float:
        """Per-doc index-time boost multipliers (1.0 when unboosted)."""
        if self.boost_d is None or len(docids) == 0:
            return 1.0
        idx = np.clip(
            np.searchsorted(self.boost_d, docids), 0, len(self.boost_d) - 1
        )
        return np.where(
            self.boost_d[idx] == docids, self.boost_v[idx], 1.0
        )

    def _bm25(self, field, term, docids, tfs, dls, boost) -> np.ndarray:
        """Per-posting score contribution: idf · boost · doc_boost ·
        similarity.tf_norm (BM25 by default; pluggable via the plan)."""
        p = self.plan
        idf = p.idf.get((field, term), 0.0)
        if self.normalize:
            idf = idf * idf
        avgdl = max(p.stats.get(field, {}).get("avgdl", 1.0), 1e-9)
        return (
            idf
            * boost
            * self._doc_boost(docids)
            * self.sim.tf_norm(tfs, dls, avgdl)
        )

    @staticmethod
    def _restrict(docids, scores, candidates):
        if candidates is None:
            return docids, scores
        if len(candidates) == 0 or len(docids) == 0:
            return _EMPTY
        idx = np.clip(np.searchsorted(candidates, docids), 0, len(candidates) - 1)
        mask = candidates[idx] == docids
        return docids[mask], scores[mask]

    @staticmethod
    def _union_sum(parts):
        parts = [p for p in parts if len(p[0])]
        if not parts:
            return _EMPTY
        alld = np.concatenate([p[0] for p in parts])
        alls = np.concatenate([p[1] for p in parts])
        uniq, inv = np.unique(alld, return_inverse=True)
        out = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(out, inv, alls)
        return uniq, out

    # -------------------------------------------------------- top-k pruning
    def eval_top(self, node: Query):
        """Entry point for per-shard top-k: uses the block-max pruned
        disjunction path (or the span-near docid-order early exit) when
        the plan shape allows, else exact eval."""
        pruned = self._try_pruned_disjunction(node)
        if pruned is None:
            pruned = self._try_early_span(node)
        docids, scores = pruned if pruned is not None else self.eval(node)
        qn = self.plan.query_norm
        if self.normalize and qn != 1.0 and len(scores):
            scores = scores * qn
        return docids, scores

    def _flatten_should_terms(self, node: Query):
        """If ``node`` is a pure disjunction of term-like leaves, return the
        flat [(field, term, boost)] list, else None."""
        if isinstance(node, TermQuery):
            return [(node.field, node.term, node.boost)]
        if isinstance(node, MultiTermGroup):
            return [(node.field, t, node.boost) for t in node.terms]
        if isinstance(node, BooleanQuery):
            if not node.coord_disabled:
                return None  # coord needs per-doc matcher counts
            if getattr(node, "min_should_match", 0) > 1:
                return None  # msm needs per-doc matcher counts
                # (msm<=1 over a pure disjunction is the default
                # any-match semantics — safe to flatten)
            out = []
            for c in node.clauses:
                if c.occur != SHOULD:
                    return None
                sub = self._flatten_should_terms(c.query)
                if sub is None:
                    return None
                out.extend(
                    (f, t, b * node.boost) for (f, t, b) in sub
                )
            return out
        return None

    def _block_ubs(self, r, avgdl: float) -> np.ndarray:
        """Per-block tf_norm upper bounds for one cell row. Uses the
        competitive-impact fronts (max tf_norm over the block's ACTUAL
        (tf, dl) Pareto pairs — tight) when the cell carries them; falls
        back to the classic loose (maxtf, mindl) pairing for pre-impact
        layouts. Valid under the Similarity monotone tf_norm contract."""
        imp_n = r.blk_imp_n
        if imp_n is not None and len(imp_n) == len(r.blk_n) and len(imp_n):
            n = np.asarray(imp_n, dtype=np.int64)
            norms = self.sim.tf_norm(
                np.asarray(r.blk_imp_tf, dtype=np.int64),
                np.asarray(r.blk_imp_dl, dtype=np.int64),
                avgdl,
            )
            return np.maximum.reduceat(norms, np.cumsum(n) - n)
        return self.sim.tf_norm(
            np.asarray(r.blk_maxtf, dtype=np.int64),
            np.asarray(r.blk_mindl, dtype=np.int64),
            avgdl,
        )

    def _term_ub(self, field: str, term: str, boost: float) -> float:
        """Score upper bound over this shard: idf·boost·max over blocks of
        the per-block bound (impact fronts when present, else
        tf_norm(maxtf, mindl)) — valid because the Similarity contract
        requires tf_norm monotone ↑ in tf and ↓ in dl (similarity.py)."""
        rows = self.cells.get((field, term))
        if not rows:
            return 0.0
        p = self.plan
        avgdl = max(p.stats.get(field, {}).get("avgdl", 1.0), 1e-9)
        mx = 0.0
        for r in rows:
            if len(r.blk_maxtf):
                ubs = self._block_ubs(r, avgdl)
                mx = max(mx, float(ubs.max()))
        idf = p.idf.get((field, term), 0.0)
        if self.normalize:
            idf = idf * idf
        # max_boost keeps the bound valid for boosted docs (exact per-doc
        # boosts are applied when the postings actually decode)
        return idf * boost * mx * self.max_boost

    def _try_pruned_term(self, field: str, term: str, boost: float):
        """Single-term top-k via block-max pruning — the degenerate (one
        term) case of block-max WAND: decode blocks in DESCENDING
        upper-bound order (ub = idf·boost·max_boost·tf_norm(maxtf, mindl),
        valid under the Similarity monotone-tf_norm contract), keep a
        running k-th-best score θ, and stop as soon as the next unseen
        block's bound falls strictly below θ. A hot web term (df ≈ 0.5 M at
        1 M docs) then decodes a handful of blocks instead of the whole
        posting list. Ties are safe: a block whose bound EQUALS θ still
        decodes, so equal-score lower-docid docs are always found, and the
        decoded set is a superset of the true top-k (callers re-sort with
        the (score desc, docid asc) tie-break). Returns None when the
        plan shape can't prune (no k, non-positive bound scale, or
        metadata-free cells)."""
        k = self.plan.k
        if k is None or k <= 0:
            return None
        rows = self.cells.get((field, term))
        if not rows:
            return _EMPTY
        # pruning pays only when the decode it avoids is expensive: below
        # ~64k postings the round machinery's python overhead exceeds ONE
        # vectorized full decode (measured 4-6 ms pruned vs 2.5-3.4 ms
        # cold-full at df 10-16k, vs 25 ms full at df 157k — prune wins
        # there), and rows already carrying full-decode memos (shared
        # cache-tier rows) decode for free — exhaustive is exact either way
        df = self.plan.df_est.get((field, term))
        if df is not None and df < PRUNE_MIN_POSTINGS:
            return None
        if all(getattr(r, "full", None) is not None for r in rows):
            return None
        p = self.plan
        avgdl = max(p.stats.get(field, {}).get("avgdl", 1.0), 1e-9)
        idf = p.idf.get((field, term), 0.0)
        if self.normalize:
            idf = idf * idf
        scale = idf * boost * self.max_boost
        if scale <= 0.0:
            return None  # a non-positive scale inverts the bound ordering
        row_of, blk_of, ubs, ns = [], [], [], []
        for ri, r in enumerate(rows):
            nb = len(r.blk_maxtf)
            if nb == 0:
                return None  # metadata-free cell → exact path
            row_of.append(np.full(nb, ri, dtype=np.int64))
            blk_of.append(np.arange(nb, dtype=np.int64))
            ubs.append(self._block_ubs(r, avgdl) * scale)
            ns.append(np.asarray(r.blk_n, dtype=np.int64))
        row_of = np.concatenate(row_of)
        blk_of = np.concatenate(blk_of)
        # 1e-9 relative headroom: the exact per-doc score multiplies the
        # same factors in a different association order, so it can exceed
        # the bound by a few ulps — widen the bound, never narrow it
        ubs = np.concatenate(ubs) * (1.0 + 1e-9)
        ns = np.concatenate(ns)
        order = np.argsort(-ubs, kind="stable")
        total = len(order)
        d_parts: list = []
        s_parts: list = []
        n_found = 0
        pos = 0
        # per-round postings budget DOUBLES: flat bound distributions (all
        # blocks identical → θ can never prune) then cost O(log) rounds of
        # amortized-linear work instead of thousands of tiny rounds
        need = max(k * 4, 256)
        while pos < total:
            take, cum = pos, 0
            while take < total and cum < need:
                cum += ns[order[take]]
                take += 1
            sel = order[pos:take]
            pos = take
            need *= 2
            for ri in np.unique(row_of[sel]):
                r = rows[ri]
                bsel = np.sort(blk_of[sel[row_of[sel] == ri]])
                d, t, dl = decode_cell(
                    bytes(r.postings), self._meta(r), blocks=bsel,
                    codec=p.codec,
                )
                d, t, dl = self._drop_deleted(d, t, dl)
                d_parts.append(d)
                s_parts.append(self._bm25(field, term, d, t, dl, boost))
                n_found += len(d)
            if pos >= total:
                break
            if n_found >= k:
                scores = np.concatenate(s_parts)
                s_parts = [scores]
                theta = np.partition(scores, len(scores) - k)[
                    len(scores) - k
                ]
                if ubs[order[pos]] < theta:
                    break
        docids = np.concatenate(d_parts) if d_parts else _EMPTY[0]
        scores = (
            np.concatenate(s_parts)
            if s_parts
            else np.empty(0, dtype=np.float64)
        )
        by_doc = np.argsort(docids)
        return docids[by_doc], scores[by_doc]

    def _try_pruned_disjunction(self, node: Query):
        """Term-at-a-time disjunction with block-max pruning — the
        vectorized re-expression of block-max WAND (Ding & Suel 2011; the
        reference has only skip lists, segment-merger.lisp:248-278).

        Terms evaluate in descending upper-bound order. Once the best score
        any *unseen* doc could still reach (Σ remaining term bounds) drops
        strictly below the current kth-best candidate score, no new doc can
        enter the top-k: remaining terms then update existing candidates
        only, decoding just the blocks whose [first,last] docid range
        intersects them (the skip-to analog). Candidate scores stay exact
        (every term processed so far was decoded in full or restricted to
        candidates), so the result is rank- and score-identical to the
        exhaustive path.
        """
        k = self.plan.k
        if k is None or k <= 0:
            return None
        flat = self._flatten_should_terms(node)
        if flat is None:
            return None
        if len(flat) == 1:
            return self._try_pruned_term(*flat[0])
        if len(flat) < 2:
            return None
        # dedupe (a term may appear twice) — keep summed boost semantics by
        # falling back to exact eval in that (rare) case
        if len({(f, t) for f, t, _ in flat}) != len(flat):
            return None
        # one _term_ub pass per term (it walks every cell's impact front)
        ranked = sorted(
            ((self._term_ub(*x), x) for x in flat),
            key=lambda p: (-p[0], p[1][0], p[1][1]),
        )
        terms = [x for _, x in ranked]
        ubs = [ub for ub, _ in ranked]
        suffix = np.concatenate([np.cumsum(ubs[::-1])[::-1], [0.0]])
        docids = np.empty(0, dtype=np.int64)
        scores = np.empty(0, dtype=np.float64)
        and_mode = False
        for i, (field, term, tboost) in enumerate(terms):
            if not and_mode and len(docids) >= k:
                theta = np.partition(scores, len(scores) - k)[len(scores) - k]
                if suffix[i] < theta:
                    and_mode = True
            if and_mode:
                if len(docids) == 0:
                    break
                d, t, dl = self._decode(field, term, docids)
                s = self._bm25(field, term, d, t, dl, tboost)
                d, s = self._restrict(d, s, docids)
                if len(d):
                    idx = np.searchsorted(docids, d)
                    scores[idx] += s
            else:
                d, t, dl = self._decode(field, term)
                s = self._bm25(field, term, d, t, dl, tboost)
                docids, scores = self._union_sum(
                    [(docids, scores), (d, s)]
                )
        # clause boosts are already folded into each term's tboost by
        # _flatten_should_terms — no root boost applies here
        return docids, scores

    # ------------------------------------------------------------------ eval
    def eval(self, node: Query, candidates: np.ndarray | None = None):
        """→ (sorted docids, scores). candidates (sorted) restricts output."""
        if isinstance(node, TermQuery):
            d, t, dl = self._decode(node.field, node.term, candidates)
            s = self._bm25(node.field, node.term, d, t, dl, node.boost)
            return self._restrict(d, s, candidates)
        if isinstance(node, MultiTermGroup):
            parts = []
            for term in node.terms:
                d, t, dl = self._decode(node.field, term, candidates)
                d, s = self._restrict(
                    d, self._bm25(node.field, term, d, t, dl, node.boost),
                    candidates,
                )
                parts.append((d, s))
            return self._union_sum(parts)
        if isinstance(node, MatchAllQuery):
            alld = [d for d, _ in self.lens.values()]
            if not alld:
                return _EMPTY
            docs = np.unique(np.concatenate(alld))
            (docs,) = self._drop_deleted(docs)
            if candidates is not None:
                docs, _ = self._restrict(
                    docs, np.zeros(len(docs)), candidates
                )
            return docs, np.full(len(docs), float(node.boost))
        if isinstance(node, (PhraseQuery, MultiPhraseQuery)):
            return self._eval_phrase(node, candidates)
        if isinstance(node, SpanNearQuery):
            return self._eval_span_near(node, candidates)
        if isinstance(node, ConstantScoreQuery):
            # native constant-score: the child yields its MATCH SET
            # (same bounded decode as scoring it), every hit scores
            # boost — never a MatchAll corpus scan
            docs, _ = self.eval(node.query, candidates)
            return docs, np.full(len(docs), float(node.boost))
        if isinstance(node, DocIdSetQuery):
            docs = np.unique(
                np.asarray(node.docids, dtype=np.int64)
            )
            # clamp to the docid universe: ids outside [0, max_doc) name
            # no document and must not match (callers pass arbitrary
            # allowlists; the zero-term root path has no candidate set or
            # postings intersection to drop them naturally). Clamp ONLY
            # when the corpus entry carries an exact bound — pre-key
            # layouts with expunge holes undercount via per-field counts,
            # and a guessed bound would drop LIVE docids
            c = self.plan.stats.get(CORPUS_STATS_KEY) or {}
            docs = docs[docs >= 0]
            if c.get("max_doc"):
                docs = docs[docs < int(c["max_doc"])]
            (docs,) = self._drop_deleted(docs)
            if candidates is not None:
                docs, _ = self._restrict(
                    docs, np.zeros(len(docs)), candidates
                )
            return docs, np.full(len(docs), float(node.boost))
        if isinstance(node, BooleanQuery):
            return self._eval_bool(node, candidates)
        raise TypeError(f"unknown query node {type(node)}")

    def _eval_bool(self, node: BooleanQuery, candidates):
        musts = [c.query for c in node.clauses if c.occur == MUST]
        filters = [c.query for c in node.clauses if c.occur == FILTER]
        shoulds = [c.query for c in node.clauses if c.occur == SHOULD]
        nots = [c.query for c in node.clauses if c.occur == MUST_NOT]
        if not musts and not shoulds and not filters:
            return _EMPTY  # pure negation matches nothing
            # (ref: boolean-scorer.lisp — no required/optional scorers)
        if getattr(node, "min_should_match", 0) > len(shoulds):
            return _EMPTY  # unsatisfiable (Lucene semantics) — checked
            # BEFORE the filters-only fast path so FILTER-only trees
            # agree with the MUST-only ones
        if not musts and not shoulds:
            # filters only: match set with score 0 (constant-score filter)
            docs = candidates
            for fq in sorted(filters, key=self._est_df):
                docs, _ = self.eval(fq, docs)
                if len(docs) == 0:
                    return _EMPTY
            result = (docs, np.zeros(len(docs), dtype=np.float64))
            return self._apply_nots(result, nots, node.boost)
        contributions = []
        docs = candidates
        # scoreless FILTER clauses restrict first (cheapest pruning)
        for fq in sorted(filters, key=self._est_df):
            docs, _ = self.eval(fq, docs)
            if len(docs) == 0:
                return _EMPTY
        count_coord = not node.coord_disabled
        msm = getattr(node, "min_should_match", 0) or 0
        count_should = msm > 0 and bool(shoulds)
        matchers = None
        smatch = None
        if musts:
            # smallest-df first — conjunction-scorer's sort-by-current-doc
            # leapfrog, at plan level (conjunction-scorer.lisp:45-56)
            musts = sorted(musts, key=self._est_df)
            for m in musts:
                d, s = self.eval(m, docs)
                docs = d
                contributions.append((d, s))
                if len(docs) == 0:
                    return _EMPTY
            base = docs
            score = np.zeros(len(base), dtype=np.float64)
            for d, s in contributions:
                idx = np.searchsorted(d, base)
                score += s[np.clip(idx, 0, max(len(s) - 1, 0))] if len(s) else 0.0
            if count_coord:
                matchers = np.full(len(base), len(musts), dtype=np.int64)
            if count_should:
                smatch = np.zeros(len(base), dtype=np.int64)
            # SHOULD adds score where it coincides (req-opt-sum-scorer.lisp)
            for sq in shoulds:
                d, s = self.eval(sq, base)
                if len(d):
                    idx = np.searchsorted(base, d)
                    score[idx] += s
                    if count_coord:
                        matchers[idx] += 1
                    if count_should:
                        smatch[idx] += 1
            result = (base, score)
        else:
            parts = [self.eval(sq, docs) for sq in shoulds]
            result = self._union_sum(parts)
            if (count_coord or count_should) and len(result[0]):
                counts = np.zeros(len(result[0]), dtype=np.int64)
                for d, _ in parts:
                    if len(d):
                        counts[np.searchsorted(result[0], d)] += 1
                if count_coord:
                    matchers = counts
                if count_should:
                    smatch = counts
        if count_should and smatch is not None and len(result[0]):
            # minimum_should_match: drop docs below the threshold BEFORE
            # coord (surviving matcher counts are unchanged per doc)
            keep = smatch >= msm
            result = (result[0][keep], result[1][keep])
            if matchers is not None:
                matchers = matchers[keep]
        if count_coord and matchers is not None and len(result[0]):
            # per-doc coord factor, precomputed per overlap count exactly
            # like the reference's coord-factors array
            # (boolean-scorer.lisp:23-41, applied :262-266); max_coord
            # counts scoring clauses only (MUST+SHOULD, never MUST_NOT —
            # add-scorer :52-54 — nor our scoreless FILTER extension)
            max_coord = len(musts) + len(shoulds)
            factors = np.array(
                [self.sim.coord(i, max_coord) for i in range(max_coord + 1)]
            )
            result = (result[0], result[1] * factors[matchers])
        return self._apply_nots(result, nots, node.boost)

    def _apply_nots(self, result, nots, boost):
        if nots and len(result[0]):
            base, score = result
            excluded = [self.eval(nq, base)[0] for nq in nots]
            if excluded:
                exc = (
                    np.unique(np.concatenate(excluded))
                    if len(excluded) > 1
                    else excluded[0]
                )
                if len(exc):
                    mask = ~np.isin(base, exc, assume_unique=False)
                    result = (base[mask], score[mask])
        if boost != 1.0:
            result = (result[0], result[1] * boost)
        return result

    def _est_df(self, q: Query) -> float:
        dfm = self.plan.df_est
        if isinstance(q, ConstantScoreQuery):
            return self._est_df(q.query)
        if isinstance(q, DocIdSetQuery):
            return len(q.docids)
        if isinstance(q, TermQuery):
            return dfm.get((q.field, q.term), 0)
        if isinstance(q, MultiTermGroup):
            return sum(dfm.get((q.field, t), 0) for t in q.terms)
        if isinstance(q, PhraseQuery):
            return min(
                (dfm.get((q.field, t), 0) for t in q.terms), default=0
            )
        if isinstance(q, MultiPhraseQuery):
            return min(
                (
                    sum(dfm.get((q.field, t), 0) for t in slot)
                    for slot in q.alternatives
                ),
                default=0,
            )
        if isinstance(q, SpanNearQuery):
            return min(
                (dfm.get((q.field, t), 0) for t in q.terms), default=0
            )
        if isinstance(q, BooleanQuery):
            ests = [
                self._est_df(c.query)
                for c in q.clauses
                if c.occur in (MUST, FILTER)
            ]
            if ests:
                return min(ests)
            return sum(
                self._est_df(c.query) for c in q.clauses if c.occur == SHOULD
            )
        return float("inf")

    # ---------------------------------------------------------------- phrase
    @staticmethod
    def _gather_runs(flat, starts, lens):
        """Concatenate runs flat[starts[i] : starts[i]+lens[i]] — one
        vectorized gather, no per-run python."""
        return flat[ShardEval._run_gidx(starts, lens)]

    @staticmethod
    def _run_gidx(starts, lens):
        """Flat gather index for runs (starts[i], lens[i]) — shared by
        every run-gather so the idiom lives in ONE place."""
        total = int(lens.sum())
        if total == 0:
            return np.empty(0, dtype=np.int64)
        out_starts = np.cumsum(lens) - lens
        return np.repeat(starts, lens) + (
            np.arange(total) - np.repeat(out_starts, lens)
        )

    @staticmethod
    def _phrase_freqs(slot_flats, slot_lens, nd, offsets, slop,
                      weight="count"):
        """Per-doc phrase frequency over flat doc-major slot positions —
        the freq kernel of the phrase eval. slop == 0: composite (doc,
        shifted position) key intersection; slop > 0: the sloppy
        sweep."""
        freqs = np.zeros(nd, dtype=np.float64)
        if slop == 0:
            # vectorized across ALL candidate docs: encode (doc, shifted
            # position) as one composite key and intersect the slots' key
            # sets. Bias keeps shifted positions non-negative; it is
            # identical per slot so intersection is unaffected.
            M = np.int64(1) << np.int64(33)
            bias = max(offsets)
            keys = None
            for i in range(len(slot_flats)):
                di = np.repeat(
                    np.arange(nd, dtype=np.int64), slot_lens[i]
                )
                k = di * M + (slot_flats[i] - offsets[i] + bias)
                keys = (
                    k
                    if keys is None
                    else np.intersect1d(keys, k, assume_unique=True)
                )
                if len(keys) == 0:
                    break
            if keys is not None and len(keys):
                freqs = np.bincount(
                    (keys // M).astype(np.int64), minlength=nd
                ).astype(np.float64)
            return freqs
        return _sloppy_freqs_flat(
            [slot_flats[i] - offsets[i] for i in range(len(slot_flats))],
            slot_lens, slop, weight,
        )

    def _eval_phrase(self, node, candidates):
        """PhraseQuery or MultiPhraseQuery (per-slot alternatives): a slot
        matches where ANY of its terms occurs; slots with one term keep
        the exact single-term decode path (bit-identical to the original
        phrase implementation)."""
        field = node.field
        alts = (
            node.alternatives
            if isinstance(node, MultiPhraseQuery)
            else tuple((t,) for t in node.terms)
        )
        dfm = self.plan.df_est

        def slot_df(i):
            return sum(dfm.get((field, t), 0) for t in alts[i])

        # 1. intersect slot doc-sets (rarest slot first), keeping each
        # slot's decode handles so step 2 never re-decodes doc streams
        order = sorted(range(len(alts)), key=slot_df)
        docs = candidates
        doc_dls = None
        slot_handles: dict[int, list] = {}
        alt_handles: dict[int, dict] = {}  # multi-alt: term -> handles
        for i in order:
            if len(alts[i]) == 1:
                d, _, dl, slot_handles[i] = self._decode_with_handles(
                    field, alts[i][0], docs
                )
                d, dl = self._restrict(d, dl.astype(np.float64), docs)
            else:
                # keep per-alternative handles too: step 2 must not pay a
                # second doc-stream decode per alternative term
                ah = alt_handles[i] = {}
                parts = []
                for t in alts[i]:
                    dd, tt, ddl, ah[t] = self._decode_with_handles(
                        field, t, docs
                    )
                    parts.append((dd, tt, ddl))
                alld = np.concatenate([p[0] for p in parts])
                alldl = np.concatenate([p[2] for p in parts])
                d, first = np.unique(alld, return_index=True)
                dl = alldl[first].astype(np.float64)  # dl is per-doc
                d, dl = self._restrict(d, dl, docs)
            docs, doc_dls = d, dl
            if len(docs) == 0:
                return _EMPTY
        # 2. positions per slot for surviving docs (flat doc-major
        # representation — no per-doc python anywhere in the phrase path)
        slot_flats, slot_lens = [], []
        nd = len(docs)
        for i in range(len(alts)):
            if len(alts[i]) == 1:
                # reuse this query's decode handles (doc streams decode
                # exactly once per phrase)
                f, ln = self._positions_flat_handles(docs, slot_handles[i])
            else:
                # sorted-unique union of the slot's alternatives: one
                # lexsort + dedupe over all docs (reusing step 1's handles)
                fs = [
                    self._positions_flat_handles(docs, alt_handles[i][t])
                    for t in alts[i]
                ]
                flat = np.concatenate([x[0] for x in fs])
                doc_idx = np.concatenate(
                    [np.repeat(np.arange(nd), x[1]) for x in fs]
                )
                order = np.lexsort((flat, doc_idx))
                d_s, f_s = doc_idx[order], flat[order]
                if len(d_s):
                    keep = np.ones(len(d_s), dtype=bool)
                    keep[1:] = (d_s[1:] != d_s[:-1]) | (f_s[1:] != f_s[:-1])
                    d_s, f_s = d_s[keep], f_s[keep]
                f, ln = f_s, np.bincount(d_s, minlength=nd)
            slot_flats.append(f)
            slot_lens.append(np.asarray(ln, dtype=np.int64))
        freqs = self._phrase_freqs(
            slot_flats, slot_lens, nd, node.offsets, node.slop,
            getattr(node, "weight", "count"),
        )
        keep = freqs > 0
        docs = docs[keep]
        freqs = freqs[keep]
        # 3. BM25 with tf = phrase freq, idf = Σ constituent idfs
        # (idf-phrase analog: tc-similarity.lisp:36-38), summed in term
        # order: set order follows the per-process string hash seed, and
        # the driver and the Spark workers must add the floats alike
        p = self.plan
        all_terms = sorted({t for slot in alts for t in slot})
        idf = sum(p.idf.get((field, t), 0.0) for t in all_terms)
        if self.normalize:
            idf = idf * idf
        dl = doc_dls[keep]
        avgdl = max(p.stats.get(field, {}).get("avgdl", 1.0), 1e-9)
        score = (
            idf
            * node.boost
            * self._doc_boost(docs)
            * self.sim.tf_norm(freqs, dl, avgdl)
        )
        return docs, score


    def _eval_span_near(self, node: SpanNearQuery, candidates):
        """SpanNearQuery: constant-score positional proximity, fully
        vectorized over flat (doc-index, position) composite keys — no
        per-doc python anywhere, mirroring the phrase path.

        Unordered: a match exists iff some occurrence anchors a window
        ``[p, p + W]`` (W = slop + n - 1) holding >= multiplicity(t)
        occurrences of every term t — the window anchored at the
        selection's MIN position always qualifies, and any qualifying
        window yields a distinct-position selection (one token carries
        one term, and >= mult(t) in-window occurrences cover duplicate
        listed terms). Presence counts are two searchsorted calls per
        term over the anchor array.

        Ordered: greedy earliest-next chaining from every first-term
        occurrence — taking the smallest next position > previous
        minimizes the chain's end, so the greedy chain matches iff ANY
        ordered selection does; one searchsorted per subsequent term."""
        if not node.terms:
            return _EMPTY  # matches the oracle's graceful empty result
        from collections import Counter

        mult = Counter(node.terms)
        docs, term_handles = self._span_intersect(node, mult, candidates)
        if len(docs) == 0:
            return _EMPTY
        match = self._span_hits(node, docs, mult, term_handles)
        return match, np.full(len(match), float(node.boost))

    def _span_intersect(self, node, mult, candidates):
        """Step 1 of the span kernel, shared by the exhaustive eval and
        the early-exit rounds (one definition — the two paths must stay
        in lockstep): intersect doc sets rarest term first, with
        tf >= multiplicity pruning docs that can't seat duplicate
        listed terms; decode handles carry over so step 2 never
        re-decodes doc streams. Returns (docs, term_handles)."""
        field = node.field
        dfm = self.plan.df_est
        docs = candidates
        term_handles: dict[str, list] = {}
        for term in sorted(mult, key=lambda t: dfm.get((field, t), 0)):
            d, tf, _dl, term_handles[term] = self._decode_with_handles(
                field, term, docs
            )
            if mult[term] > 1:
                d = d[tf >= mult[term]]
            d, _ = self._restrict(
                d, np.zeros(len(d), dtype=np.float64), docs
            )
            docs = d
            if len(docs) == 0:
                break
        return docs, term_handles

    def _span_hits(self, node, docs, mult, term_handles) -> np.ndarray:
        """Docids of ``docs`` (sorted ascending) containing a qualifying
        span window — step 2 of the span kernel, shared by the
        exhaustive eval and the docid-order early-exit rounds. Flat
        (doc-index·M + position) composite keys per unique term;
        per-doc independence makes subset evaluation exact."""
        nd = len(docs)
        M = np.int64(1) << np.int64(33)
        keys: dict[str, np.ndarray] = {}
        for term in mult:
            f, ln = self._positions_flat_handles(docs, term_handles[term])
            di = np.repeat(np.arange(nd, dtype=np.int64), ln)
            k = di * M + f
            if node.first is not None:
                # span-first: only positions inside the doc prefix play
                k = k[f < node.first]
            keys[term] = k
        W = np.int64(node.slop + len(node.terms) - 1)
        if node.in_order:
            anchors = keys[node.terms[0]]
            cur = anchors
            ok = np.ones(len(anchors), dtype=bool)
            for term in node.terms[1:]:
                kt = keys[term]
                j = np.searchsorted(kt, cur + 1, side="left")
                valid = j < len(kt)
                ok &= valid
                j = np.minimum(j, max(len(kt) - 1, 0))
                nxt = kt[j] if len(kt) else cur
                # poisoned lanes keep cur; they're already dead via ok
                cur = np.where(valid, nxt, cur)
            ok &= (cur - anchors) <= W  # same doc too: cross-doc diff >= M
        else:
            anchors = np.concatenate(list(keys.values()))
            ok = np.ones(len(anchors), dtype=bool)
            for term, kt in keys.items():
                lo = np.searchsorted(kt, anchors, side="left")
                hi = np.searchsorted(kt, anchors + W + 1, side="left")
                ok &= (hi - lo) >= mult[term]
        hit_docs = np.unique(anchors[ok] // M).astype(np.int64)
        return docs[hit_docs]

    def _try_early_span(self, node: Query):
        """Root-level top-k for SpanNearQuery via DOCID-ORDER early exit
        — NOT a score-bound (WAND) path: span stays excluded from those
        (it is not term-like and has no tf bound). Constant-score
        semantics make this exact for free: every match scores exactly
        ``boost``, so under the (score desc, docid asc) tie-break the
        top-k IS the k lowest-docid matches. Candidate docs (already
        ascending) evaluate in doubling-budget chunks and the scan stops
        once k matches exist — the positions fetch + window kernels
        never touch the tail of a hot intersection. Returns None when
        the shape can't exit early (no k, k <= 0, tiny df)."""
        k = self.plan.k
        if (
            k is None
            or k <= 0
            or not isinstance(node, SpanNearQuery)
            or not node.terms
        ):
            return None
        field = node.field
        dfm = self.plan.df_est
        dfs = [dfm.get((field, t)) for t in node.terms]
        if any(d is None for d in dfs) or min(dfs) < PRUNE_MIN_POSTINGS:
            return None
        from collections import Counter

        mult = Counter(node.terms)
        docs, term_handles = self._span_intersect(node, mult, None)
        if len(docs) == 0:
            return _EMPTY
        parts: list = []
        n_found = 0
        pos = 0
        # chunks are docid-CONTIGUOUS (good position-block locality),
        # so small first rounds cost little and stop the scan early
        # when matches are dense; doubling bounds the sparse case
        need = max(k * 16, 512)
        while pos < len(docs) and n_found < k:
            chunk = docs[pos:pos + need]
            pos += need
            need *= 2
            hits = self._span_hits(node, chunk, mult, term_handles)
            if len(hits):
                parts.append(hits)
                n_found += len(hits)
        match = (
            np.concatenate(parts) if parts else _EMPTY[0]
        )
        return match, np.full(len(match), float(node.boost))


def _sloppy_freq(shifted: list[np.ndarray], slop: int,
                 weight: str = "count") -> float:
    """Reference oracle: k-pointer sweep over the shifted position lists
    (sloppy-phrase-scorer.lisp:6-34). Each step whose window span ≤ slop
    contributes 1 ("count" mode) or 1/(1+span) ("reciprocal" — the
    reference's sloppy-freq, similarity.lisp:158-159). The production path
    is the vectorized ``_sloppy_freqs_batch``; tests assert equivalence."""
    if any(len(s) == 0 for s in shifted):
        return 0.0
    ptr = [0] * len(shifted)
    freq = 0.0
    while True:
        cur = [s[p] for s, p in zip(shifted, ptr)]
        span = max(cur) - min(cur)
        if span <= slop:
            freq += 1.0 if weight == "count" else 1.0 / (1.0 + span)
        mi = int(np.argmin(cur))
        ptr[mi] += 1
        if ptr[mi] >= len(shifted[mi]):
            return freq


def _sloppy_freqs_batch(shifted_lists: list[list[np.ndarray]], slop: int,
                        weight: str = "count") -> np.ndarray:
    """List-of-arrays API kept for the oracle-equivalence tests; converts
    to the flat doc-major representation and delegates to
    ``_sloppy_freqs_flat`` (the production path)."""
    k = len(shifted_lists)
    ndocs = len(shifted_lists[0]) if k else 0
    if ndocs == 0:
        return np.zeros(0, dtype=np.float64)
    term_flats, term_lens = [], []
    for t in range(k):
        lens = np.fromiter(
            (len(a) for a in shifted_lists[t]), dtype=np.int64, count=ndocs
        )
        term_lens.append(lens)
        term_flats.append(
            np.concatenate(shifted_lists[t])
            if int(lens.sum())
            else np.empty(0, dtype=np.int64)
        )
    return _sloppy_freqs_flat(term_flats, term_lens, slop, weight)


def _sloppy_freqs_flat(term_flats: list[np.ndarray],
                       term_lens: list[np.ndarray], slop: int,
                       weight: str = "count") -> np.ndarray:
    """Vectorized sloppy-phrase frequencies for ALL candidate docs at once
    — the numpy closed form of the k-pointer sweep, O(k·n log n) with no
    per-doc (or per-position) Python. ``term_flats[t]`` holds term t's
    shifted positions doc-major; ``term_lens[t]`` the per-doc counts.

    PRECONDITION (shared with ``_sloppy_freq``'s equivalence claim): each
    per-doc position run is strictly increasing — no duplicate values
    within a run. Decoded postings always satisfy this (positions are
    per-doc strictly ascending); synthetic inputs with within-run
    duplicates would diverge from the scalar sweep (round-2 advice).

    Sweep identity (the closed form this computes per ELEMENT, never
    materializing the merged stream): the scalar loop retires the
    minimum pointer each step, so retirements follow the per-doc
    (value, lid) sorted order, and at the step retiring element (v, j)
    every other list u's pointer sits at its first element (> v) for
    u < j, or (>= v) for u > j (the argmin tie-break retires lower list
    ids first). The sweep stops — inclusively — at the first element
    that is the last of its list; under the retirement order that stop
    element is simply the per-doc lexicographic MIN over lists of
    (last-run-element key, lid), so "retires before the stop" is a
    direct key comparison — no rank bookkeeping. Each retired element's
    window span is max over other lists of (pointer value − v), found
    with one searchsorted per ordered list pair; k(k-1) binary searches
    replace the former merged-stream argsort + per-list cumsum walk
    (~3× less work for the common 2-term phrase, same results —
    batch == scalar property-tested).

    Returns per-doc frequency (count or Σ 1/(1+span)).
    """
    k = len(term_flats)
    ndocs = len(term_lens[0]) if k else 0
    freqs = np.zeros(ndocs, dtype=np.float64)
    if ndocs == 0:
        return freqs
    # docs where every term occurs (others contribute 0)
    lens = np.stack([np.asarray(ln, dtype=np.int64) for ln in term_lens])
    active = np.flatnonzero((lens > 0).all(axis=0))
    if len(active) == 0:
        return freqs
    # per-term flat streams restricted to active docs (one gather each)
    flat, alens = [], []
    for t in range(k):
        starts = np.cumsum(lens[t]) - lens[t]
        alens.append(lens[t][active])
        flat.append(
            ShardEval._gather_runs(
                np.asarray(term_flats[t]), starts[active], alens[t]
            )
        )
    vmin = min(int(f.min()) for f in flat)
    vmax = max(int(f.max()) for f in flat)
    M = np.int64(vmax - vmin + 2)
    nact = len(active)
    doc_of = [np.repeat(np.arange(nact), alens[t]) for t in range(k)]
    key = [doc_of[t] * M + (flat[t] - vmin) for t in range(k)]  # sorted asc
    # stop element per doc: lexicographic min over lists of
    # (key of the list's LAST per-doc element, lid)
    stop_key = np.full(nact, np.iinfo(np.int64).max)
    stop_lid = np.zeros(nact, dtype=np.int64)
    for t in range(k):
        lk = key[t][np.cumsum(alens[t]) - 1]
        better = lk < stop_key  # lids ascend, so ties keep the lower lid
        stop_key = np.where(better, lk, stop_key)
        stop_lid = np.where(better, t, stop_lid)
    for t in range(k):
        kt = key[t]
        sd = doc_of[t]
        in_range = (kt < stop_key[sd]) | (
            (kt == stop_key[sd]) & (t <= stop_lid[sd])
        )
        # window span at this element's retirement: max over other
        # lists' pointer values minus v (own pointer contributes v − v)
        span = np.zeros(len(kt), dtype=np.float64)
        for u in range(k):
            if u == t:
                continue
            j = np.searchsorted(key[u], kt + 1 if u < t else kt, "left")
            valid = j < len(key[u])
            jc = np.minimum(j, max(len(key[u]) - 1, 0))
            valid &= doc_of[u][jc] == sd
            span = np.maximum(
                span, np.where(valid, flat[u][jc] - flat[t], np.inf)
            )
        contrib = np.where(
            in_range & (span <= slop),
            1.0 if weight == "count" else 1.0 / (1.0 + span),
            0.0,
        )
        freqs[active] += np.bincount(sd, weights=contrib, minlength=nact)
    return freqs


def explain_doc(plan: CompiledPlan, rows, docid: int,
                lens_pdf: pd.DataFrame | None = None) -> dict:
    """Score breakdown for one doc — the reference's disabled
    explain-score surface (explain methods exist but are commented out
    throughout src/search/*.lisp), rebuilt as a tree walk over the
    compiled plan. ``rows``: parsed CellRow list covering the query's
    terms (any shards — cells with disjoint docid ranges merge at decode
    time). The returned tree's ``value`` at the root equals the served
    score exactly (tests assert identity vs top_docs)."""
    ev = ShardEval(plan, rows, lens_pdf)
    d1 = np.asarray([docid], dtype=np.int64)

    def node_value(n) -> float:
        dd, ss = ev.eval(n, d1)
        return float(ss[0]) if len(dd) else 0.0

    sim_name = getattr(ev.sim, "name", "custom")

    def walk(n) -> dict:
        if isinstance(n, TermQuery):
            d, t, dl = ev._decode(n.field, n.term, d1)
            d, idx = d, np.searchsorted(d, docid) if len(d) else 0
            hit = len(d) > 0 and idx < len(d) and d[idx] == docid
            tf = int(t[idx]) if hit else 0
            dlv = int(dl[idx]) if hit else 0
            idf = ev.plan.idf.get((n.field, n.term), 0.0)
            avgdl = max(
                ev.plan.stats.get(n.field, {}).get("avgdl", 1.0), 1e-9
            )
            tfn = (
                float(ev.sim.tf_norm(
                    np.asarray([tf], dtype=np.int64),
                    np.asarray([max(dlv, 1)], dtype=np.int64), avgdl,
                )[0])
                if hit
                else 0.0
            )
            dboost = ev._doc_boost(d1)
            dboost = float(dboost[0]) if not np.isscalar(dboost) else dboost
            return {
                "type": "term",
                "description": f"{n.field}:{n.term} [{sim_name}]",
                "value": node_value(n),
                "idf": idf,
                "tf": tf,
                "dl": dlv,
                "tf_norm": tfn,
                "boost": n.boost,
                "doc_boost": dboost,
                "matched": bool(hit),
            }
        if isinstance(n, MultiTermGroup):
            details = [
                walk(TermQuery(n.field, t, n.boost)) for t in n.terms
            ]
            return {
                "type": "multi_term",
                "description": f"{n.field}:({len(n.terms)} expanded terms)",
                "value": node_value(n),
                "details": [x for x in details if x["matched"]],
            }
        if isinstance(n, (PhraseQuery, MultiPhraseQuery)):
            dd, ss = ev.eval(n, d1)
            alts = (
                n.alternatives
                if isinstance(n, MultiPhraseQuery)
                else tuple((t,) for t in n.terms)
            )
            terms = sorted({t for slot in alts for t in slot})
            idf = sum(ev.plan.idf.get((n.field, t), 0.0) for t in terms)
            return {
                "type": "phrase",
                "description": " ".join(
                    "|".join(slot) for slot in alts
                ) + (f" slop={n.slop}" if n.slop else ""),
                "value": node_value(n),
                "idf_sum": idf,
                "boost": n.boost,
                "matched": bool(len(dd)),
            }
        if isinstance(n, SpanNearQuery):
            dd, _ss = ev.eval(n, d1)
            return {
                "type": "span_near",
                "description": (
                    " ".join(n.terms)
                    + f" slop={n.slop}"
                    + (" in_order" if n.in_order else "")
                    + (f" first<{n.first}" if n.first is not None else "")
                    + " [constant-score]"
                ),
                "value": node_value(n),
                "boost": n.boost,
                "matched": bool(len(dd)),
            }
        if isinstance(n, MatchAllQuery):
            return {
                "type": "match_all",
                "description": "*:*",
                "value": node_value(n),
            }
        if isinstance(n, DocIdSetQuery):
            dd, ss = ev.eval(n, d1)
            return {
                "type": "docid_set",
                "description": f"docid set ({len(n.docids)} ids)",
                "value": float(ss[0]) if len(dd) else 0.0,
                "boost": n.boost,
                "matched": bool(len(dd)),
            }
        if isinstance(n, ConstantScoreQuery):
            dd, ss = ev.eval(n, d1)
            return {
                "type": "constant_score",
                "description": "constant(boost) over the child's match set",
                "value": float(ss[0]) if len(dd) else 0.0,
                "boost": n.boost,
                "matched": bool(len(dd)),
                "details": [walk(n.query)],
            }
        if isinstance(n, BooleanQuery):
            details = []
            for c in n.clauses:
                sub = walk(c.query)
                sub["occur"] = c.occur
                details.append(sub)
            out = {
                "type": "boolean",
                "description": f"{len(n.clauses)} clauses"
                + ("" if n.coord_disabled else " (coord)"),
                "value": node_value(n),
                "boost": n.boost,
                "details": details,
            }
            return out
        return {"type": "unknown", "value": node_value(n)}

    tree = walk(plan.query)
    qn = plan.query_norm
    if getattr(ev.sim, "normalize_query", False) and qn != 1.0:
        tree = {
            "type": "query_norm",
            "description": f"query_norm {qn:.6g} × clause tree",
            "value": tree["value"] * qn,
            "query_norm": qn,
            "details": [tree],
        }
    return tree


def _finish(plan: CompiledPlan, docids, scores) -> pd.DataFrame:
    if len(docids) == 0:
        return pd.DataFrame({"docid": [], "score": []}).astype(
            {"docid": "int64", "score": "float64"}
        )
    if plan.k is not None and len(docids) > plan.k:
        # tie-break (score desc, docid asc) — hit-queue.lisp:3-9 inverted
        order = np.lexsort((docids, -scores))[: plan.k]
        docids, scores = docids[order], scores[order]
    return pd.DataFrame({"docid": docids, "score": scores})


def make_kernel(plan: CompiledPlan):
    """Cogrouped applyInPandas fn: (key, postings, lens) → (docid, score)
    rows, per-shard top-k if plan.k is set. Needed only when the plan
    contains MatchAll (doc universe comes from doc_lens)."""

    def kernel(key, postings_pdf: pd.DataFrame, lens_pdf: pd.DataFrame):
        ev = ShardEval(plan, postings_pdf, lens_pdf)
        return _finish(plan, *ev.eval_top(plan.query))

    return kernel


def make_kernel_partition(plan: CompiledPlan):
    """mapInPandas fn: evaluate the plan over a whole scan/exchange
    partition in ONE ShardEval pass. Cells from any number of shards
    carry disjoint ascending docid ranges, so they merge through exactly
    the multi-segment cell path (blk_first ordering) — one vectorized
    eval per task instead of one per shard, and per-task (not per-shard)
    top-k, so even fewer rows cross the final stage.

    This replaces ``groupBy("shard").applyInPandas`` on the ordinary
    query path: the job schedules tasks ~ matched data, not
    ``spark.sql.shuffle.partitions`` (the round-3 verdict's 0.5 s
    scheduling floor). The CALLER guarantees per-docid completeness:
    single-cell plans (one (field, term), unboosted) are complete under
    any row split — each posting cell is self-contained; multi-term
    plans must arrive hash-repartitioned by shard."""

    def kernel(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
        ev = ShardEval(plan, pdf, None)
        out = _finish(plan, *ev.eval_top(plan.query))
        if len(out):
            yield out

    return kernel


def make_kernel_multi(plans: list):
    """mapInPandas fn for BATCH query serving: evaluate MANY compiled
    plans against each partition in one pass. ``plans`` is a list of
    (qid, CompiledPlan); output rows are (qid, docid, score), per-plan
    per-task top-k.

    The batch analog of make_kernel_partition: the caller ships ONE
    pruned postings scan for the UNION of all plans' terms, so N queries
    cost one Spark job instead of N. Cell rows are parsed ONCE per task
    (rows_from_pandas) and shared across every plan's ShardEval — a cell
    decode is query-independent, so plans touching the same hot term
    reuse the same CellRow decode memo within the task. Completeness
    contract matches make_kernel_partition: if ANY plan has more than
    one cell (or the index carries boosts), the caller must deliver rows
    hash-partitioned by shard."""

    def kernel(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
        rows = rows_from_pandas(pdf)
        base = None
        for qid, plan in plans:
            # bucket rows once per task; per-plan evals share the buckets
            ev = ShardEval(plan, rows) if base is None else base.rebind(plan)
            base = base or ev
            out = _finish(plan, *ev.eval_top(plan.query))
            if len(out):
                out.insert(0, "qid", qid)
                yield out

    return kernel


def make_kernel_cogrouped_tombstones(plan: CompiledPlan):
    """cogroup(postings, tombstones).applyInPandas fn for delete sets too
    large to broadcast inside the plan: each shard kernel receives ONLY
    its own slice of the tombstone table (docid-range co-partitioning) and
    masks at decode time, before top-k — identical semantics to the
    broadcast array at any delete-set size (deletions.py scale note)."""

    def kernel(key, postings_pdf: pd.DataFrame, tomb_pdf: pd.DataFrame):
        deleted = np.sort(tomb_pdf["docid"].to_numpy(dtype=np.int64))
        ev = ShardEval(plan, postings_pdf, None, deleted=deleted)
        return _finish(plan, *ev.eval_top(plan.query))

    return kernel


def _tree_has_docidset(q: Query) -> bool:
    if isinstance(q, DocIdSetQuery):
        return True
    if isinstance(q, ConstantScoreQuery):
        return _tree_has_docidset(q.query)
    if isinstance(q, BooleanQuery):
        return any(_tree_has_docidset(c.query) for c in q.clauses)
    return False


def eval_local(plan: CompiledPlan, postings) -> pd.DataFrame:
    """Driver-side evaluation over collected postings rows (the fast path
    for small matched sets): ONE ShardEval pass over every row — cells
    from different shards carry disjoint ascending docid ranges, so they
    merge through the multi-segment cell path (blk_first order), exactly
    like make_kernel_partition, and WAND pruning sees the GLOBAL top-k
    threshold instead of 31 per-shard ones (strictly tighter).
    ``postings``: a pandas frame OR a pre-parsed list[CellRow] (the
    Searcher's cell cache keeps parsed rows so repeated queries skip
    pandas entirely)."""
    rows = (
        postings
        if isinstance(postings, list)
        else rows_from_pandas(postings)
    )
    if not rows and not _tree_has_docidset(plan.query):
        # zero cells can still match when the tree carries an explicit
        # bounded docid set (its universe needs no postings)
        return pd.DataFrame({"docid": [], "score": []}).astype(
            {"docid": "int64", "score": "float64"}
        )
    ev = ShardEval(plan, rows, None)
    docids, scores = ev.eval_top(plan.query)
    if len(docids) == 0:
        return pd.DataFrame({"docid": [], "score": []}).astype(
            {"docid": "int64", "score": "float64"}
        )
    if plan.k is not None and len(docids) > plan.k:
        order = np.lexsort((docids, -scores))[: plan.k]
    else:
        order = np.lexsort((docids, -scores))
    docids, scores = docids[order], scores[order]
    return pd.DataFrame({"docid": docids, "score": scores})
