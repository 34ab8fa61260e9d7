"""Searcher: driver-side query compilation + distributed execution.

Query lifecycle (the Spark-first re-expression of SURVEY.md §3):

1. ``rewrite`` fixpoint on the AST (driver, pure Python).
2. Dictionary resolution is a PER-QUERY SEEK, never a full-vocabulary
   collect (Heaps' law: a web corpus has O(10^9) terms — the dictionary
   cannot live on the driver). On a saved layout (a loaded index or a
   streaming union of saved segments) every dictionary touch reads the
   (field, term) range-sorted ``term_stats`` parquet driver-direct through
   ``index/pointread.SavedTable``, pruning row groups by footer min/max —
   the .tii two-level index analog
   (src/index/term-infos-io.lisp:135-148,219-232) — and starts no Spark
   job: exact terms are a point read; range, wildcard, regexp, fuzzy,
   ``suggest`` and ``spell_correct`` are a range/prefix seek with the
   exact filter (``re.fullmatch``, a numpy Levenshtein) applied in Python
   and ``max_expansion`` applied after the same order the scan uses. An
   unsaved index pushes the same predicates into the ``term_stats`` scan
   instead (``isin``, BETWEEN, ``startswith`` + anchored ``rlike``, the
   JVM ``levenshtein``; ORDER BY + LIMIT at scan time). Resolved
   (term, df) entries are memoized driver-side (bounded caches).
3. The needed (field, term) set is pushed as an ``isin`` predicate into the
   postings scan (broadcast of query terms); the positions column is only
   read when a phrase needs it (column pruning).
4. Per-shard evaluation via ``cogroup(postings, doc_lens).applyInPandas``:
   docid-range shards are disjoint, so per-shard exact top-k is globally
   correct and the only cross-shard traffic is k rows per shard.
5. Global ``orderBy(score desc, docid asc).limit(k)`` + broadcast join back
   to doc_map for the key. Tie-break matches hit-queue.lisp:3-9 (inverted).
"""

from __future__ import annotations

import math
import re
from itertools import repeat

import numpy as np
from pyspark.sql import DataFrame, functions as F

from montezuma_spark.index.builder import Index
from montezuma_spark.search.ast import (
    BooleanQuery,
    ConstantScoreQuery,
    DocIdSetQuery,
    MatchAllQuery,
    PhraseQuery,
    Query,
    RangeQuery,
    TermQuery,
    FuzzyQuery,
    MultiPhraseQuery,
    RegexpQuery,
    SpanNearQuery,
    WildcardQuery,
    rewrite,
)
from montezuma_spark.search.kernel import (
    CompiledPlan,
    MultiTermGroup,
    eval_local,
    make_kernel,
    make_kernel_cogrouped_tombstones,
    make_kernel_multi,
    make_kernel_partition,
)

RESULT_SCHEMA = "docid long, score double"
BATCH_RESULT_SCHEMA = "qid string, docid long, score double"

# distributed multi-term exchange: postings-per-task target used to size
# the shard repartition (decode is vectorized — ~½M postings is a
# few-ms task; smaller estimates collapse to a single task)
POSTINGS_PER_TASK = 500_000

# matched-postings budget below which the driver evaluates locally
# (collect a handful of binary cells instead of scheduling a Spark job —
# the reference's whole-query path was always "local"; ours picks by size)
FAST_PATH_MAX_POSTINGS = 2_000_000

# the wider budget for the CACHED saved-layout tier: the arrow point read
# + vectorized decode handle multi-million-posting terms faster than one
# scheduled Spark job (10M-doc hot term, df 5.24M: ~1.1 s cold either
# way, ~0.03 s warm locally vs 0.57 s re-scheduled), and the cell cache's
# memo-inclusive byte accounting bounds what stays resident. Kept off the
# uncached fallback, whose Spark collect would materialize this much
# through toPandas on every query. BOUNDED-k ONLY: the widened budget was
# measured for top-k serving (k rows leave the driver); k=None callers
# (facet_counts / search_collapse / search_sorted / each_hit) materialize
# the FULL match set as pandas and re-serialize it to the JVM, so they
# keep the FAST_PATH budget and let the kernel parallelize decode.
CACHED_PATH_MAX_POSTINGS = 8_000_000

# bounded driver-side memo of resolved (field, term) -> df entries; at
# ~60 B/entry this caps the dictionary cache around 60 MB regardless of
# vocabulary size (the cache is an optimization, never a requirement)
DF_CACHE_MAX = 1_000_000

# total (term, df[, sim]) tuples the expansion memo may hold across all
# cached patterns: a long-lived serving Searcher fed a stream of DISTINCT
# wildcard/regexp/fuzzy/range queries must stay bounded (each entry can
# carry up to max_expansion tuples; the cache is an optimization, never a
# requirement — same policy as DF_CACHE_MAX)
EXP_CACHE_MAX_TERMS = 1_000_000

# delete sets up to this size ship inside the serialized plan (a broadcast
# to every shard kernel, ~8 B/docid); beyond it the tombstones become a
# TABLE cogrouped with the postings by shard, so each task receives only
# its own docid-range slice (deletions.py scale note made real)
TOMBSTONE_BROADCAST_MAX = 1_000_000


# batch dictionary/postings pushdown: Column.isin builds one JVM literal
# per element — a py4j round trip each, which at 512-query batches is
# ~2.3 ms x terms of SERIAL driver time (the measured marginal cost of
# search_batch). At or above this list size, an all-safe term list is
# rendered as a single SQL IN list through ONE F.expr parse instead —
# the same Catalyst In expression, same parquet pushdown.
ISIN_EXPR_MIN = 32
# terms that may NOT ride an F.expr literal: quotes, backslashes,
# control chars (the SQL parser strips unknown escapes SILENTLY — see
# the CLAUDE.md invariant; never escape inside F.expr, fall back)
_SQL_LITERAL_SAFE = re.compile(r"^[^'\\\x00-\x1f\x7f]*\Z")


def _terms_predicate(col: str, terms) -> F.Column:
    """``col IN (terms)`` with O(1) driver-side py4j calls for large safe
    lists; literal ``isin`` otherwise (small lists, or any term containing
    a quote/backslash/control char)."""
    ts = sorted(terms)
    if len(ts) >= ISIN_EXPR_MIN and all(
        isinstance(t, str) and _SQL_LITERAL_SAFE.match(t) for t in ts
    ):
        quoted = ",".join("'" + t + "'" for t in ts)
        return F.expr(f"`{col}` IN ({quoted})")
    return F.col(col).isin(ts)


def bm25_idf(df: int, n: int) -> float:
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


def _wildcard_java_regex(py_regex: str) -> str:
    """End-anchored Python whole-term regex (``fnmatch.translate`` output,
    or a regexp wrapped as ``(?:pat)\\Z``) -> fully-anchored Java regex for
    ``rlike``.

    ``rlike`` is a *search* (substring match), so the pattern is anchored
    with ``^``; Python's absolute-end ``\\Z`` is spelled ``\\z`` in Java.
    """
    if py_regex.endswith(r"\Z"):
        py_regex = py_regex[:-2] + r"\z"
    return "^" + py_regex


def _levenshtein(q: str, terms: list) -> np.ndarray:
    """Unit-cost edit distance from ``q`` to each of ``terms`` over code
    points (the JVM ``levenshtein``'s definition), vectorized across the
    terms: one numpy pass per character of ``q``. Within a DP row the
    insertion chain D[j] = min(D[j], D[j-1] + 1) is a running minimum of
    ``D[j] - j``. Terms are zero-padded to one width; the padding sits
    right of each term's own last column, which never reads it."""
    lens = np.fromiter(map(len, terms), np.int64, len(terms))
    width = int(lens.max()) if len(terms) else 0
    if width == 0:
        return np.full(len(terms), len(q), np.int64)
    cps = np.array(terms, dtype=f"<U{width}").view(np.uint32).reshape(
        len(terms), width
    )
    j = np.arange(width + 1, dtype=np.int64)
    row = np.tile(j, (len(terms), 1))  # D[0][j] = j
    step = np.empty_like(row)
    for i, c in enumerate(q, 1):
        step[:, 0] = i
        np.minimum(row[:, 1:] + 1, row[:, :-1] + (cps != ord(c)),
                   out=step[:, 1:])
        row = np.minimum.accumulate(step - j, axis=1) + j
    return row[np.arange(len(terms)), lens]


def _fuzzy_sims(q: str, terms: list) -> np.ndarray:
    """sim = 1 − levenshtein/min(len(q), len(t)) per term, in float64 —
    the same arithmetic as the JVM scan's ``1.0 - dist / least(L,
    length(term)).cast(double)`` (terms must be non-empty, as the length
    bounds guarantee)."""
    lens = np.fromiter(map(len, terms), np.int64, len(terms))
    mins = np.minimum(len(q), lens).astype(np.float64)
    return 1.0 - _levenshtein(q, terms) / mins


def _saved_slice(reader, field: str, lo=None, hi=None, prefix: str = "",
                 keep=None) -> dict:
    """{term: df} over one field's slice of the saved dictionary —
    terms in [lo, hi] starting with ``prefix``, read driver-direct by
    ``SavedTable.read_range`` (footer-pruned, no Spark job). ``keep``
    (terms -> bool sequence) is the exact filter, applied file by file
    before anything is retained. df SUMS over a union's segments, as
    the groupBy of ``_union_index`` does on the Spark side."""
    out: dict = {}
    for tbl in reader.read_range(field, lo, hi, prefix):
        terms = tbl.column("term").to_pylist()
        dfs = tbl.column("df").to_pylist()
        kept = keep(terms) if keep is not None else repeat(True)
        for t, df, k in zip(terms, dfs, kept):
            if k:
                out[t] = out.get(t, 0) + df
    return out


class Searcher:
    def __init__(self, index: Index, max_expansion: int = 10_000,
                 distributed: bool = False,
                 similarity=None, cell_cache_bytes: int = 256 << 20):
        """The Searcher never collects the vocabulary: dictionary
        resolution is a per-query seek (or predicate pushdown into the
        term_stats scan). Small matched sets are evaluated driver-side;
        ``distributed=True`` disables that fast path entirely (every query
        runs the per-shard kernel as a Spark job).

        ``cell_cache_bytes`` bounds the per-(field, term) LRU of parsed
        postings cells on the saved-layout local tier (the Lucene
        query-cache analog): repeated queries on warm terms skip the
        parquet point read AND the pandas parse, paying kernel cost only.
        It caches only terms actually queried (never the vocabulary) and
        is evicted by payload bytes; 0 disables it."""
        from montezuma_spark.search.similarity import get_similarity

        self.index = index
        self.max_expansion = max_expansion
        # per-searcher scoring fn (the reference's query-level similarity
        # hook, query.lisp:53-54); defaults to the index config's choice
        self.similarity = get_similarity(
            similarity if similarity is not None else index.config.similarity,
            index.config.k1, index.config.b,
        )
        self._df_cache: dict = {}                # (field, term) -> df memo
        self._exp_cache: dict = {}               # range/wildcard -> ((t, df),)
        self._exp_cache_terms = 0                # total tuples held (bound)
        self._tomb_df = None                     # tombstone table (big sets)
        self._force_distributed = distributed
        self._arrow_fetches = 0                  # driver-direct reads (tests)
        # ((field|None, term), need_pos) -> (rows, bytes); None field =
        # the index's BOOST_TERM marker cells (one entry for all fields)
        import threading

        self._cell_cache: dict = {}
        self._cell_cache_size = 0
        self._cell_cache_max = int(cell_cache_bytes)
        self._cell_cache_lock = threading.Lock()

    # ------------------------------------------------------------- dictionary
    def _lookup_dfs(self, pairs) -> dict:
        """df for exact (field, term) pairs — ONE seek for all cache misses
        (term-infos-io.lisp:219-232 analog): a footer-pruned point read on
        a saved layout (a streaming union's segments included), an
        ``isin``-filtered collect otherwise; absent terms resolve to
        df=0."""
        pairs = set(pairs)
        out = {}
        missing = [p for p in pairs if p not in self._df_cache]
        for p in pairs - set(missing):
            out[p] = self._df_cache[p]
        if missing:
            by_field: dict[str, list] = {}
            for f, t in missing:
                by_field.setdefault(f, []).append(t)
            reader = self.index._term_stats_dataset()
            if reader is not None:
                # saved layout: driver-direct footer-pruned seek into the
                # range-sorted dictionary (the .tii analog), no Spark job
                # (the cold-query dictionary seek was the largest share of
                # the ~0.13 s saved-tier cold latency). A streaming union
                # holds one row per segment for a (field, term): df SUMS.
                tbl = reader.read(by_field, ["field", "term", "df"])
                found: dict = {}
                for f, t, d in zip(
                    tbl.column("field").to_pylist(),
                    tbl.column("term").to_pylist(),
                    tbl.column("df").to_pylist(),
                ):
                    found[(f, t)] = found.get((f, t), 0) + int(d)
            else:
                cond = None
                for f, ts in sorted(by_field.items()):
                    c = (F.col("field") == f) & _terms_predicate("term", ts)
                    cond = c if cond is None else (cond | c)
                rows = (
                    self.index.term_stats.filter(cond)
                    .select("field", "term", "df")
                    .collect()
                )
                found = {(r["field"], r["term"]): int(r["df"]) for r in rows}
            for p in missing:
                df = found.get(p, 0)
                out[p] = df
                if len(self._df_cache) < DF_CACHE_MAX:
                    self._df_cache[p] = df
        return out

    def _exp_cache_put(self, key, out: tuple) -> tuple:
        """FIFO-bounded expansion memo (insertion order = age)."""
        self._exp_cache[key] = out
        self._exp_cache_terms += len(out)
        while (self._exp_cache_terms > EXP_CACHE_MAX_TERMS
               and len(self._exp_cache) > 1):
            oldest = next(iter(self._exp_cache))
            if oldest == key:
                break
            self._exp_cache_terms -= len(self._exp_cache.pop(oldest))
        return out

    def _expand_range(self, node: RangeQuery) -> tuple:
        """Concrete (term, df) list for a range, (term asc) truncated to
        ``max_expansion``: a range seek into the saved dictionary, or a
        BETWEEN predicate pushed into the term_stats scan with the limit
        applied at scan time (never a vocabulary collect)."""
        key = ("range", node.field, node.lower, node.upper,
               node.include_lower, node.include_upper, self.max_expansion)
        if key in self._exp_cache:
            return self._exp_cache[key]
        reader = self.index._term_stats_dataset()
        if reader is not None:
            found = _saved_slice(reader, node.field, node.lower, node.upper)
            if not node.include_lower:
                found.pop(node.lower, None)
            if not node.include_upper:
                found.pop(node.upper, None)
            out = tuple((t, found[t])
                        for t in sorted(found)[: self.max_expansion])
            return self._exp_cache_put(key, out)
        ts = self.index.term_stats.filter(F.col("field") == node.field)
        if node.lower is not None:
            ts = ts.filter(
                F.col("term") >= node.lower
                if node.include_lower
                else F.col("term") > node.lower
            )
        if node.upper is not None:
            ts = ts.filter(
                F.col("term") <= node.upper
                if node.include_upper
                else F.col("term") < node.upper
            )
        rows = (
            ts.select("term", "df")
            .orderBy("term")
            .limit(self.max_expansion)
            .collect()
        )
        out = tuple((r["term"], int(r["df"])) for r in rows)
        return self._exp_cache_put(key, out)

    def _pattern_scan(self, field: str, prefix: str, regex: str) -> tuple:
        """Shared pattern enum (wildcard + regexp): the (term, df) terms
        of ``field`` that start with ``prefix`` and whole-match the Python
        ``regex`` (end-anchored by ``\\Z``), (term asc) truncated to
        ``max_expansion``.

        On a saved layout: a prefix range seek into the dictionary, then
        ``re.fullmatch`` under ``re.ASCII`` (``\\d``/``\\w``/``\\s`` stay
        ASCII, as in Java). A pattern Python cannot compile raises
        ValueError. Otherwise: ``startswith`` + the anchored Java form as
        ``rlike`` into the term_stats scan, LIMIT at scan time. The regex
        rides ``Column.rlike`` as a py4j literal, NEVER an F.expr SQL
        string (the escape-stripping footgun, CLAUDE.md)."""
        reader = self.index._term_stats_dataset()
        if reader is not None:
            try:
                rx = re.compile(regex, re.ASCII)
            except re.error as e:
                raise ValueError(
                    f"pattern {regex!r} is outside the regex subset "
                    f"saved-layout expansion accepts: {e}"
                ) from None
            found = _saved_slice(
                reader, field, prefix=prefix,
                keep=lambda ts: [rx.fullmatch(t) is not None for t in ts],
            )
            return tuple((t, found[t])
                         for t in sorted(found)[: self.max_expansion])
        ts = self.index.term_stats.filter(F.col("field") == field)
        if prefix:
            ts = ts.filter(F.col("term").startswith(prefix))
        ts = ts.filter(F.col("term").rlike(_wildcard_java_regex(regex)))
        rows = (
            ts.select("term", "df")
            .orderBy("term")
            .limit(self.max_expansion)
            .collect()
        )
        return tuple((r["term"], int(r["df"])) for r in rows)

    def _expand_wildcard(self, node: WildcardQuery) -> tuple:
        """Concrete (term, df) list for a wildcard through
        ``_pattern_scan`` (wildcard-term-enum.lisp:15-50 seeks the
        dictionary at the constant prefix; here the prefix prunes parquet
        row groups)."""
        key = ("wild", node.field, node.pattern, self.max_expansion)
        if key in self._exp_cache:
            return self._exp_cache[key]
        out = self._pattern_scan(
            node.field, node.literal_prefix(), node.to_regex()
        )
        return self._exp_cache_put(key, out)

    def _expand_regexp(self, node) -> tuple:
        """Concrete (term, df) list for an anchored regex — the same
        ``_pattern_scan`` as wildcard (literal prefix + whole-term
        match): ``(?:pat)\\Z`` in Python, ``^(?:pat)\\z`` in Java."""
        key = ("regexp", node.field, node.pattern, self.max_expansion)
        if key in self._exp_cache:
            return self._exp_cache[key]
        out = self._pattern_scan(
            node.field, node.literal_prefix(),
            "(?:" + node.pattern + ")\\Z",
        )
        return self._exp_cache_put(key, out)

    def _expand_fuzzy(self, node: FuzzyQuery) -> tuple:
        """Concrete (term, df, sim) list for a fuzzy term, truncated to
        ``max_expansion`` by (sim desc, term asc) — a lexicographic limit
        could drop the nearest spellings at web vocabularies (Lucene's
        priority-queue semantics) — and returned in term order."""
        ms = node.min_similarity
        key = ("fuzzy", node.field, node.term, ms, node.prefix_length,
               self.max_expansion)
        if key in self._exp_cache:
            return self._exp_cache[key]
        out = tuple(sorted(self._fuzzy_scan(node, False, self.max_expansion)))
        return self._exp_cache_put(key, out)

    def _fuzzy_scan(self, node: FuzzyQuery, by_df: bool,
                    limit: int) -> list:
        """The fuzzy candidates as (term, df, sim), ordered (sim desc,
        term asc) — (sim desc, df desc, term asc) with ``by_df``, for
        ``spell_correct`` — and truncated to ``limit``. Any in-threshold
        term satisfies len(q)/(2-ms) <= len(t) <= len(q)*(2-ms) (from
        dist >= |len difference| and dist <= (1-ms)*min_len).

        On a saved layout: a seek at the constant prefix, the length
        bounds and a numpy Levenshtein (``_fuzzy_sims``) filter each
        file's slice. Otherwise: length BETWEEN + prefix pushed into the
        term_stats scan, the JVM levenshtein on the pruned slice, order
        and LIMIT at scan time. Both compute sim as
        ``1.0 - dist / float(min(len(q), len(t)))``."""
        q = node.term
        L = len(q)
        ms = node.min_similarity
        lo = max(1, int(math.ceil(L / (2.0 - ms))))
        hi = int(math.floor(L * (2.0 - ms)))
        prefix = q[: node.prefix_length] if node.prefix_length > 0 else ""
        reader = self.index._term_stats_dataset()
        if reader is not None:
            def keep(terms):
                lens = np.fromiter(map(len, terms), np.int64, len(terms))
                ok = (lens >= lo) & (lens <= hi)
                idx = np.flatnonzero(ok)
                ok[idx] = _fuzzy_sims(q, [terms[i] for i in idx]) >= ms
                return ok

            found = _saved_slice(reader, node.field, prefix=prefix, keep=keep)
            terms = list(found)
            sims = _fuzzy_sims(q, terms).tolist()
            rows = [(t, found[t], s) for t, s in zip(terms, sims)]
            rows.sort(key=(lambda r: (-r[2], -r[1], r[0])) if by_df
                      else (lambda r: (-r[2], r[0])))
            return rows[:limit]
        ts = self.index.term_stats.filter(
            (F.col("field") == node.field)
            & F.length("term").between(lo, hi)
        )
        if prefix:
            ts = ts.filter(F.col("term").startswith(prefix))
        dist = F.levenshtein(F.col("term"), F.lit(q))
        sim = F.lit(1.0) - dist / F.least(
            F.lit(L), F.length("term")
        ).cast("double")
        order = [F.desc("_sim")] + ([F.desc("df")] if by_df else [])
        rows = (
            ts.withColumn("_sim", sim)
            .filter(F.col("_sim") >= ms)
            .select("term", "df", "_sim")
            .orderBy(*order, F.asc("term"))
            .limit(limit)
            .collect()
        )
        return [(r["term"], int(r["df"]), float(r["_sim"])) for r in rows]

    @staticmethod
    def _exact_pairs(q: Query) -> tuple[set, bool]:
        """(field, term) pairs resolvable by exact dictionary seek in a
        REWRITTEN tree, plus whether positions are needed (phrases)."""
        exact: set = set()
        need_pos = False

        def gather(node: Query) -> None:
            nonlocal need_pos
            if isinstance(node, TermQuery):
                exact.add((node.field, node.term))
            elif isinstance(node, PhraseQuery):
                need_pos = True
                exact.update((node.field, t) for t in node.terms)
            elif isinstance(node, MultiPhraseQuery):
                need_pos = True
                exact.update(
                    (node.field, t)
                    for slot in node.alternatives
                    for t in slot
                )
            elif isinstance(node, SpanNearQuery):
                need_pos = True
                exact.update((node.field, t) for t in node.terms)
            elif isinstance(node, ConstantScoreQuery):
                gather(node.query)
            elif isinstance(node, BooleanQuery):
                for c in node.clauses:
                    gather(c.query)

        gather(q)
        return exact, need_pos

    def _resolve(self, q: Query) -> tuple[Query, dict, dict, bool]:
        """Expand range/wildcard and gather idf/df maps — every dictionary
        touch is a filtered scan (pushdown), batched across the query."""
        q = rewrite(q)
        exact, need_pos = self._exact_pairs(q)
        dfs = self._lookup_dfs(exact) if exact else {}
        idf: dict = {}
        df_est: dict = {}

        def idf_for(field, term, df):
            n = self.index.stats.get(field, {}).get("num_docs", 0)
            idf[(field, term)] = self.similarity.idf(df, n) if n else 0.0
            df_est[(field, term)] = df

        def walk(node: Query) -> Query:
            if isinstance(
                node,
                (TermQuery, PhraseQuery, MultiPhraseQuery, SpanNearQuery),
            ):
                if isinstance(node, TermQuery):
                    terms = [node.term]
                elif isinstance(node, (PhraseQuery, SpanNearQuery)):
                    terms = list(node.terms)
                else:
                    terms = [t for slot in node.alternatives for t in slot]
                for t in terms:
                    idf_for(node.field, t, dfs.get((node.field, t), 0))
                return node
            if isinstance(node, RangeQuery):
                expanded = self._expand_range(node)
                for t, df in expanded:
                    idf_for(node.field, t, df)
                return MultiTermGroup(
                    node.field, tuple(t for t, _ in expanded), node.boost
                )
            if isinstance(node, WildcardQuery):
                expanded = self._expand_wildcard(node)
                for t, df in expanded:
                    idf_for(node.field, t, df)
                return MultiTermGroup(
                    node.field, tuple(t for t, _ in expanded), node.boost
                )
            if isinstance(node, RegexpQuery):
                expanded = self._expand_regexp(node)
                for t, df in expanded:
                    idf_for(node.field, t, df)
                return MultiTermGroup(
                    node.field, tuple(t for t, _ in expanded), node.boost
                )
            if isinstance(node, FuzzyQuery):
                from montezuma_spark.search.ast import (
                    SHOULD as _SHOULD,
                    BooleanClause as _BC,
                )

                ms = node.min_similarity
                expanded = self._expand_fuzzy(node)
                for t, df, _sim in expanded:
                    idf_for(node.field, t, df)
                # per-term boost scaling (sim-ms)/(1-ms): nearer spellings
                # outrank distant ones; a disjunction of boosted terms
                # composes with WAND pruning like any SHOULD tree
                clauses = tuple(
                    _BC(
                        TermQuery(
                            node.field,
                            t,
                            node.boost
                            * (1.0 if ms >= 1.0 else (sim - ms) / (1.0 - ms)),
                        ),
                        _SHOULD,
                    )
                    for t, _df, sim in expanded
                )
                return BooleanQuery(clauses)
            if isinstance(node, BooleanQuery):
                from montezuma_spark.search.ast import BooleanClause

                return BooleanQuery(
                    tuple(
                        BooleanClause(walk(c.query), c.occur)
                        for c in node.clauses
                    ),
                    node.boost,
                    node.coord_disabled,
                    node.min_should_match,
                )
            if isinstance(node, ConstantScoreQuery):
                return ConstantScoreQuery(walk(node.query), node.boost)
            if isinstance(node, (MatchAllQuery, DocIdSetQuery)):
                return node
            raise TypeError(f"cannot resolve {type(node)}")

        resolved = walk(q)
        return resolved, idf, df_est, need_pos

    # ---------------------------------------------------------------- execute
    def _needed_terms(self, q: Query) -> dict[str, set]:
        out: dict[str, set] = {}

        def walk(node):
            if isinstance(node, TermQuery):
                out.setdefault(node.field, set()).add(node.term)
            elif isinstance(node, MultiTermGroup):
                out.setdefault(node.field, set()).update(node.terms)
            elif isinstance(node, (PhraseQuery, SpanNearQuery)):
                out.setdefault(node.field, set()).update(node.terms)
            elif isinstance(node, MultiPhraseQuery):
                out.setdefault(node.field, set()).update(
                    t for slot in node.alternatives for t in slot
                )
            elif isinstance(node, ConstantScoreQuery):
                walk(node.query)
            elif isinstance(node, BooleanQuery):
                for c in node.clauses:
                    walk(c.query)

        walk(q)
        return out

    def _fields_in(self, q: Query) -> set:
        f = set(self._needed_terms(q))
        # MatchAll needs every field's doc set
        def walk(node):
            if isinstance(node, MatchAllQuery):
                from montezuma_spark.codec.postings import CORPUS_STATS_KEY

                f.update(
                    k for k in self.index.stats if k != CORPUS_STATS_KEY
                )
            elif isinstance(node, ConstantScoreQuery):
                walk(node.query)
            elif isinstance(node, BooleanQuery):
                for c in node.clauses:
                    walk(c.query)

        walk(q)
        return f

    def _has_matchall(self, q: Query) -> bool:
        if isinstance(q, MatchAllQuery):
            return True
        if isinstance(q, ConstantScoreQuery):
            return self._has_matchall(q.query)
        if isinstance(q, BooleanQuery):
            return any(self._has_matchall(c.query) for c in q.clauses)
        return False

    def _sum_squared_weights(self, node: Query, idf: dict) -> float:
        """Reference sum-of-squared-weights over the resolved tree
        (query.lisp:9-15). Per the Lisp as written, a boolean sums ALL
        clause weights — prohibited included — then scales by its boost²
        (boolean-query.lisp:150-156); term weight = idf·boost
        (term-query.lisp:29-31), phrase weight = Σidf·boost
        (phrase-query.lisp:64-67), match-all contributes 1.0
        (match-all-query.lisp:50-51)."""
        if isinstance(node, TermQuery):
            return (idf.get((node.field, node.term), 0.0) * node.boost) ** 2
        if isinstance(node, MultiTermGroup):
            # rewrites to a disjunction of term queries in the reference
            return sum(
                (idf.get((node.field, t), 0.0) * node.boost) ** 2
                for t in node.terms
            )
        if isinstance(node, PhraseQuery):
            pidf = sum(
                idf.get((node.field, t), 0.0) for t in set(node.terms)
            )
            return (pidf * node.boost) ** 2
        if isinstance(node, MultiPhraseQuery):
            pidf = sum(
                idf.get((node.field, t), 0.0)
                for t in {t for slot in node.alternatives for t in slot}
            )
            return (pidf * node.boost) ** 2
        if isinstance(node, MatchAllQuery):
            return 1.0
        if isinstance(node, ConstantScoreQuery):
            return node.boost ** 2  # Lucene constant-score weight
        if isinstance(node, DocIdSetQuery):
            # like SpanNear: a scoreless/constant leaf carries no idf
            # weight, so rescore's FILTER-set wrapper leaves the
            # secondary's classic query_norm untouched
            return 0.0
        if isinstance(node, SpanNearQuery):
            return 0.0  # constant-score: carries no idf weight
        if isinstance(node, BooleanQuery):
            return node.boost ** 2 * sum(
                self._sum_squared_weights(c.query, idf) for c in node.clauses
            )
        return 0.0

    @staticmethod
    def _check_docidset_positions(q: Query) -> None:
        """A DocIdSetQuery (optionally constant-score-wrapped) may be
        the ROOT, a FILTER clause or a MUST_NOT clause — positions
        where its eval is always intersected against (or excluded
        from) shard-restricted docs. As MUST or SHOULD, a per-task
        kernel would emit the full (cross-shard) set once PER TASK —
        duplicated rows — so those positions raise."""
        from montezuma_spark.search.ast import FILTER, MUST, MUST_NOT

        def unwrap(n):
            while isinstance(n, ConstantScoreQuery):
                n = n.query
            return n

        def no_terms(n):
            """True when NO term-bearing leaf exists beneath n — then
            the zero-term driver short-circuit serves the tree and the
            per-task duplication risk cannot arise."""
            n = unwrap(n)
            if isinstance(n, (DocIdSetQuery,)):
                return True
            if isinstance(n, BooleanQuery):
                return all(no_terms(c.query) for c in n.clauses)
            return False

        def walk(n, is_root):
            n = unwrap(n)
            if not isinstance(n, BooleanQuery):
                return
            has_restrictor = any(
                c.occur in (MUST, FILTER)
                and not isinstance(unwrap(c.query), DocIdSetQuery)
                for c in n.clauses
            )
            for c in n.clauses:
                if isinstance(unwrap(c.query), DocIdSetQuery):
                    if c.occur not in (FILTER, MUST_NOT):
                        raise ValueError(
                            "DocIdSetQuery must be the root or a "
                            f"FILTER/MUST_NOT clause (got {c.occur}); "
                            "compose it as a filter"
                        )
                    # a FILTER set needs a term-bearing MUST/FILTER
                    # sibling to shard-restrict it — the only exemption
                    # is a fully term-free ROOT (the whole tree then
                    # takes the bounded driver short-circuit). A
                    # MUST_NOT sibling is NOT a restrictor: the
                    # filters-only path would emit the cross-shard set
                    # per task and subtract only shard-local exclusions.
                    if c.occur == FILTER and not (
                        has_restrictor or (is_root and no_terms(n))
                    ):
                        raise ValueError(
                            "a boolean holding a DocIdSet FILTER needs "
                            "a term-bearing MUST/FILTER sibling to "
                            "restrict it (MUST_NOT does not restrict)"
                        )
                else:
                    walk(c.query, False)

        walk(q, True)

    def _has_docidset(self, q: Query) -> bool:
        from montezuma_spark.search.kernel import _tree_has_docidset

        return _tree_has_docidset(q)

    def _compile(self, query: Query, k: int | None):
        resolved, idf, df_est, need_pos = self._resolve(query)
        self._check_docidset_positions(resolved)
        tomb = getattr(self.index, "tombstones", None)
        if self._has_docidset(resolved) and hasattr(
            self.index, "masked_docids"
        ):
            # expunge holes only matter to docid-LEVEL queries (postings
            # and doc_lens no longer contain them) — keeping them off
            # ordinary plans stops the shipped mask growing with
            # cumulative update/compact churn
            tomb = self.index.masked_docids()
        query_norm = 1.0
        if getattr(self.similarity, "normalize_query", False):
            ssw = self._sum_squared_weights(resolved, idf)
            # query-norm = 1/sqrt(ssw) (similarity.lisp:149-153); a zero
            # sum means every clause has idf 0 → all scores 0 anyway
            query_norm = 1.0 / math.sqrt(ssw) if ssw > 0 else 1.0
        plan = CompiledPlan(
            query=resolved,
            idf=idf,
            df_est=df_est,
            stats=self.index.stats,
            k1=self.index.config.k1,
            b=self.index.config.b,
            k=k,
            need_positions=need_pos,
            similarity=self.similarity,
            codec=self.index.config.block_codec,
            deleted=tomb if tomb is not None and len(tomb) else None,
            query_norm=query_norm,
        )
        return plan, resolved, need_pos

    def _filtered_postings(self, resolved: Query, need_pos: bool):
        """Postings scan restricted to the query's (field, term) set, with
        the positions sidecar column-pruned away for non-phrase queries.
        Boosted indexes additionally read the per-shard boost marker cells
        (they ride the same scan — no extra job or join)."""
        needed = self._needed_terms(resolved)
        return self._postings_for(needed, need_pos), needed

    def _postings_for(self, needed: dict, need_pos: bool) -> DataFrame:
        """The pruned postings scan for an explicit (field → term set) map
        (shared by the single-query path and ``search_batch``'s union)."""
        from montezuma_spark.codec.postings import BOOST_TERM

        cond = None
        for f, terms in needed.items():
            c = (F.col("field") == f) & _terms_predicate("term", terms)
            cond = c if cond is None else (cond | c)
        if cond is not None and self.index.config.boost_col is not None:
            cond = cond | (F.col("term") == BOOST_TERM)
        cols = [
            "field", "term", "shard", "df", "cf", "postings",
            "blk_first", "blk_last", "blk_n", "blk_off", "blk_codes_len",
            "blk_ext_len", "blk_maxtf", "blk_mindl",
        ]
        postings = self.index.postings
        # impact-front metadata (tight block bounds): absent on pre-impact
        # layouts — the kernel falls back to the (maxtf, mindl) bound
        cols += [
            c
            for c in ("blk_imp_n", "blk_imp_tf", "blk_imp_dl")
            if c in postings.columns
        ]
        if need_pos:
            cols += ["positions", "pos_off"]
        postings = postings.filter(cond) if cond is not None else postings.filter(
            F.lit(False)
        )
        postings = postings.select(*cols)
        if not need_pos:
            postings = postings.withColumn(
                "positions", F.lit(b"")
            ).withColumn("pos_off", F.array().cast("array<long>"))
        return postings

    def _est_matched_postings(self, needed: dict, df_est: dict) -> int:
        return sum(
            df_est.get((f, t), 0) for f, terms in needed.items() for t in terms
        )

    def _reducer_count(self, needed: dict, df_est: dict) -> int:
        """Exchange width for the multi-term kernel: sized to the match
        ESTIMATE (dictionary dfs — already in hand, no extra job), capped
        by the core count and by the index's shard count. A 2-term query
        matching 10k postings schedules 1 task; a web-hot conjunction
        still fans out to every core."""
        est = self._est_matched_postings(needed, df_est)
        cap = self.index.spark.sparkContext.defaultParallelism
        from montezuma_spark.codec.postings import corpus_max_doc

        docs = corpus_max_doc(self.index.stats)
        nsh = (max(docs - 1, 0) >> self.index.config.shard_bits) + 1
        return max(1, min(cap, nsh, -(-est // POSTINGS_PER_TASK)))

    def _tombstones_df(self):
        """Tombstones as a (docid, shard) DataFrame — only materialized for
        delete sets too large to broadcast inside the plan. Cached per
        delete-set SIZE: Index.delete_docs mutates index.tombstones in
        place, so a reused Searcher must rebuild when the set grows
        (round-2 advice — a stale cache silently returned deleted docs)."""
        tomb = getattr(self.index, "tombstones", None)
        if tomb is None or len(tomb) <= TOMBSTONE_BROADCAST_MAX:
            return None
        if self._tomb_df is None or self._tomb_df[0] != len(tomb):
            import pandas as pd

            sb = self.index.config.shard_bits
            pdf = pd.DataFrame({"docid": tomb.astype("int64")})
            self._tomb_df = (
                len(tomb),
                self.index.spark.createDataFrame(pdf)
                .withColumn("shard", F.shiftright("docid", sb)),
            )
        return self._tomb_df[1]

    def _execute(self, query: Query, k: int | None) -> DataFrame:
        """Distributed execution → DataFrame(docid, score)."""
        plan, resolved, need_pos = self._compile(query, k)
        needed0 = self._needed_terms(resolved)
        if (
            self._has_docidset(resolved)
            and not any(needed0.values())
            and not self._has_matchall(resolved)
        ):
            # zero postings terms: the match universe IS the bounded
            # docid set — evaluate driver-side (plan.deleted masks
            # deletes; a zero-row kernel would return nothing)
            local = eval_local(
                plan, self._fetch_postings_pdf(resolved, need_pos)
            )
            return self.index.spark.createDataFrame(
                local, schema=RESULT_SCHEMA
            )
        tomb_df = self._tombstones_df()
        if tomb_df is not None and not self._has_matchall(resolved):
            # massive delete set: strip the array from the shipped plan and
            # co-partition the tombstone table with the postings instead
            from dataclasses import replace as _dc_replace

            plan = _dc_replace(plan, deleted=None)
            postings, _ = self._filtered_postings(resolved, need_pos)
            kernel = make_kernel_cogrouped_tombstones(plan)
            return (
                postings.groupBy("shard")
                .cogroup(tomb_df.groupBy("shard"))
                .applyInPandas(kernel, schema=RESULT_SCHEMA)
            )
        postings, needed = self._filtered_postings(resolved, need_pos)
        if self._has_matchall(resolved):
            fields = self._fields_in(resolved)
            lens = self.index.doc_lens.filter(
                F.col("field").isin(sorted(fields)) if fields else F.lit(False)
            )
            if tomb_df is not None:
                # massive delete set + MatchAll: the tombstones ride the
                # SAME doc_lens cogroup as marker rows (field=TOMB_FIELD),
                # so each shard kernel still receives only its own slice —
                # never the full array broadcast inside the plan
                from dataclasses import replace as _dc_replace

                from montezuma_spark.search.kernel import TOMB_FIELD

                plan = _dc_replace(plan, deleted=None)
                lens = lens.select("field", "docid", "dl", "shard").unionByName(
                    tomb_df.select(
                        F.lit(TOMB_FIELD).alias("field"),
                        F.col("docid"),
                        F.lit(0).cast("long").alias("dl"),
                        F.col("shard"),
                    )
                )
            kernel = make_kernel(plan)
            return (
                postings.groupBy("shard")
                .cogroup(lens.groupBy("shard"))
                .applyInPandas(kernel, schema=RESULT_SCHEMA)
            )
        # shard-pruned scheduling (round-3 verdict #1): never pay a
        # spark.sql.shuffle.partitions-wide stage for a narrow query
        kernel = make_kernel_partition(plan)
        n_cells = sum(len(ts) for ts in needed.values())
        if n_cells <= 1 and self.index.config.boost_col is None:
            # one (field, term): every cell row is self-contained →
            # evaluate on the scan partitions, NO exchange at all
            return postings.mapInPandas(kernel, schema=RESULT_SCHEMA)
        n = self._reducer_count(needed, plan.df_est)
        return postings.repartition(n, "shard").mapInPandas(
            kernel, schema=RESULT_SCHEMA
        )

    def _execute_local(self, query: Query, k: int | None):
        """Driver-side fast path → pandas DataFrame(docid, score), or None
        if not eligible (MatchAll present or matched postings too large)."""
        if self._force_distributed:
            return None
        plan, resolved, need_pos = self._compile(query, k)
        if self._has_matchall(resolved):
            return None
        needed = self._needed_terms(resolved)
        est = self._est_matched_postings(needed, plan.df_est)
        cached_tier = (
            self._cell_cache_max > 0
            and self.index._postings_dataset() is not None
        )
        limit = (
            CACHED_PATH_MAX_POSTINGS
            if cached_tier and k is not None
            else FAST_PATH_MAX_POSTINGS
        )
        if est > limit:
            return None
        rows = self._cached_rows(resolved, need_pos)
        if rows is not None:
            return eval_local(plan, rows)
        return eval_local(plan, self._fetch_postings_pdf(resolved, need_pos))

    def _cached_rows(self, resolved: Query, need_pos: bool):
        """Bounded per-(field, term) LRU of parsed postings cells for
        saved indexes — the Lucene LRUQueryCache analog at cell
        granularity. A warm query skips the parquet point read and the
        pandas parse entirely (the two dominant costs of the local tier
        after decode batching) and reuses any decode memos already on the
        shared rows. Caches ONLY queried terms (the default tier still
        never collects the vocabulary); evicted LRU by payload bytes.
        Returns None when disabled or the index has no saved layout.
        Cells are immutable per saved layout and decode is
        delete-independent (tombstones mask after decode), so deletes
        never invalidate entries."""
        if self._cell_cache_max <= 0:
            return None
        if self.index._postings_dataset() is None:
            return None
        return self._ensure_cells(self._needed_terms(resolved), need_pos)

    def _ensure_cells(self, needed: dict, need_pos: bool) -> list:
        """Rows for {field: terms} through the cell cache, fetching every
        missing term in ONE arrow point read (callers pre-gate on
        ``_cell_cache_max`` > 0 and a saved layout)."""
        from montezuma_spark.codec.postings import BOOST_TERM

        want = [(f, t) for f, ts in sorted(needed.items())
                for t in sorted(ts)]
        # zero-term trees (docid sets) score as constants — no boost cells
        if self.index.config.boost_col is not None and any(needed.values()):
            want.append((None, BOOST_TERM))
        # snapshot hits FIRST (LRU-touching them): a later put may evict
        # any entry when the budget is smaller than this query's working
        # set, so assembly below never reads the cache again
        have: dict = {}
        missing = []
        with self._cell_cache_lock:
            for ft in want:
                key = (ft, need_pos)
                ent = self._cell_cache.pop(key, None)
                if ent is None and not need_pos:
                    # a positional entry is a strict superset (its extra
                    # positions are ignored by non-positional eval) —
                    # reuse it instead of double-caching the payload
                    ent = self._cell_cache.pop((ft, True), None)
                    key = (ft, True)
                if ent is None:
                    missing.append(ft)
                else:
                    self._cell_cache[key] = ent  # reinsert at LRU tail
                    have[ft] = ent[0]
        if missing:
            from montezuma_spark.search.kernel import rows_from_pandas

            fetch: dict = {}
            fetch_boost = False
            for f, t in missing:
                if f is None:
                    fetch_boost = True
                else:
                    fetch.setdefault(f, set()).add(t)
            pdf = self._arrow_cells_pdf(
                self.index._postings_dataset(), fetch, need_pos, fetch_boost
            )
            boost_mask = (
                pdf["term"] == BOOST_TERM if len(pdf) else None
            )
            groups = (
                {k: g for k, g in pdf[~boost_mask].groupby(
                    ["field", "term"], sort=False)}
                if len(pdf) else {}
            )
            for ft in missing:
                if ft[0] is None:
                    sub = pdf[boost_mask] if len(pdf) else pdf
                else:
                    sub = groups.get(ft)
                rows = (
                    rows_from_pandas(sub)
                    if sub is not None and len(sub)
                    else []  # negative entry: absent terms never refetch
                )
                have[ft] = rows
                self._cell_cache_put((ft, need_pos), rows)
        out: list = []
        for ft in want:
            out.extend(have[ft])
        return out

    def _cell_cache_put(self, key, rows) -> None:
        # charge each entry its payload PLUS its decode-memo potential —
        # shared rows accumulate row.full (~24 B/posting) and row.full_pos
        # (~8 B/position) memos the payload bytes alone would hide, and
        # the budget must bound RESIDENT driver memory, not just parquet
        # bytes (review finding: 3.2 B/posting payload can pin ~10x that
        # once fully decoded)
        nbytes = 240 * (len(rows) + 1)  # row + entry overhead estimate
        for r in rows:
            if isinstance(r.postings, (bytes, bytearray, memoryview)):
                nbytes += len(r.postings)
            try:  # full memo: 3 int64 streams per posting
                nbytes += 24 * int(np.asarray(r.blk_n, dtype=np.int64).sum())
            except (TypeError, ValueError):
                pass
            if isinstance(r.positions, (bytes, bytearray, memoryview)):
                # payload + full_pos memo (~8 B/position vs ~3.2 packed)
                nbytes += len(r.positions) + (len(r.positions) * 5) // 2
        with self._cell_cache_lock:
            old = self._cell_cache.pop(key, None)
            if old is not None:
                self._cell_cache_size -= old[1]
            self._cell_cache[key] = (rows, nbytes)
            self._cell_cache_size += nbytes
            while (self._cell_cache_size > self._cell_cache_max
                   and len(self._cell_cache) > 1):
                oldest = next(iter(self._cell_cache))
                ent = self._cell_cache.pop(oldest, None)
                if ent is not None:
                    self._cell_cache_size -= ent[1]

    def _fetch_postings_pdf(self, resolved: Query, need_pos: bool):
        """Matched postings cells as a pandas frame for the local tier.

        Saved indexes (and streaming unions of saved segments) read the
        cells STRAIGHT from the range-sorted parquet files — the postings
        analog of the term-infos dictionary seek: a point read needs file
        IO (row groups pruned by the footers' (field, term) min/max, see
        index/pointread.py), not a scheduled Spark job. At 1M docs this is
        the difference between ~50 ms and ~350 ms per query; on a real
        cluster the driver fetches the same few MB from object storage.
        In-memory indexes (no saved layout) keep the pruned Spark scan —
        identical rows either way."""
        reader = self.index._postings_dataset()
        if reader is None:
            postings, _ = self._filtered_postings(resolved, need_pos)
            return postings.toPandas()
        needed = self._needed_terms(resolved)
        return self._arrow_cells_pdf(
            reader, needed, need_pos,
            # zero-term trees (docid sets / constant-score wrappers) score
            # as constants and never consult doc boosts — skip the marker
            # cells, whose size tracks the CORPUS, not the query
            include_boost=(
                self.index.config.boost_col is not None
                and any(needed.values())
            ),
        )

    def _arrow_cells_pdf(self, reader, needed: dict, need_pos: bool,
                         include_boost: bool):
        """Driver-direct parquet point read of the cells for explicit
        {field: terms} sets (see ``_fetch_postings_pdf`` for the layout
        contract that makes this a row-group-pruned seek)."""
        from montezuma_spark.codec.postings import BOOST_TERM

        cols = [
            "field", "term", "shard", "df", "cf", "postings",
            "blk_first", "blk_last", "blk_n", "blk_off", "blk_codes_len",
            "blk_ext_len", "blk_maxtf", "blk_mindl",
        ]
        # impact-front metadata: absent on pre-impact saved layouts
        have = reader.column_names()
        cols += [
            c
            for c in ("blk_imp_n", "blk_imp_tf", "blk_imp_dl")
            if c in have
        ]
        if need_pos:
            cols += ["positions", "pos_off"]
        self._arrow_fetches += 1
        return reader.read(
            needed, cols, BOOST_TERM if include_boost else None
        ).to_pandas()

    # ------------------------------------------------------------------- API
    def search(self, query: Query, k: int | None = 10,
               first_doc: int = 0) -> DataFrame:
        """Top-k (docid, score, key), tie-break (score desc, docid asc).

        ``first_doc`` is the reference's pagination offset
        (src/search/index-searcher.lisp:56-108: first-doc/num-docs)."""
        fetch = (k + first_doc) if k is not None else None
        local = self._execute_local(query, fetch)
        if local is not None:
            if k is not None:
                local = local.iloc[first_doc : first_doc + k]
            elif first_doc:
                local = local.iloc[first_doc:]
            result = self.index.spark.createDataFrame(
                local, schema=RESULT_SCHEMA
            )
        else:
            result = self._execute(query, fetch)
            if k is not None:
                result = result.orderBy(
                    F.desc("score"), F.asc("docid")
                ).offset(first_doc).limit(k)
            elif first_doc:
                result = result.orderBy(
                    F.desc("score"), F.asc("docid")
                ).offset(first_doc)
        # every docid exists in doc_map → inner join; broadcast the k-row
        # result side so the docid→url lookup never shuffles doc_map
        if k is not None:
            out = F.broadcast(result).join(self.index.doc_map, "docid", "inner")
            out = out.orderBy(F.desc("score"), F.asc("docid"))
        else:
            out = result.join(self.index.doc_map, "docid", "inner")
        return out.select("docid", "key", "score")

    def search_after(self, query: Query, after: tuple[int, float],
                     k: int = 10, keys: bool = True) -> DataFrame:
        """Cursor deep paging: the next ``k`` hits strictly after
        ``after = (docid, score)`` — the last hit of the previous page,
        in the row shape ``search``/``top_docs`` serve it — in the
        engine order (score desc, docid asc).

        Beyond-reference, labeled (the reference pages only by offset:
        first-doc/num-docs, src/search/index-searcher.lisp:56-108).
        Offset paging must materialize ``first_doc + k`` rows per page,
        so page N costs O(N·k); the cursor predicate keeps EVERY page a
        bounded top-k — on the distributed tier it filters each shard
        kernel's output BEFORE the global top-k, so only k rows cross
        stages regardless of depth (the Lucene/Elasticsearch
        searchAfter pattern). ``after`` must be the exact served
        (docid, score) pair — scores are tier-identical
        (parity-tested), so cursors transfer across tiers.

        ``keys=False`` skips the docid→key doc_map join (the
        ``top_docs`` analog): on the driver-local tier the page then
        costs no Spark job beyond ``createDataFrame``.
        """
        d, s = int(after[0]), float(after[1])
        local = self._execute_local(query, None)
        if local is not None:
            m = (local["score"] < s) | (
                (local["score"] == s) & (local["docid"] > d)
            )
            result = self.index.spark.createDataFrame(
                local[m].iloc[:k], schema=RESULT_SCHEMA
            )
        else:
            cursor = (F.col("score") < s) | (
                (F.col("score") == s) & (F.col("docid") > d)
            )
            result = (
                self._execute(query, None)
                .filter(cursor)
                .orderBy(F.desc("score"), F.asc("docid"))
                .limit(k)
            )
        if not keys:
            return result.orderBy(F.desc("score"), F.asc("docid")).select(
                "docid", "score"
            )
        out = F.broadcast(result).join(self.index.doc_map, "docid", "inner")
        return out.orderBy(F.desc("score"), F.asc("docid")).select(
            "docid", "key", "score"
        )

    def search_batch(self, queries, k: int | None = 10) -> DataFrame:
        """Evaluate MANY queries in ONE distributed job (the serving-
        throughput path: a query LOG, not a query).

        ``queries``: dict[qid, Query] or iterable of (qid, Query) pairs.
        Returns DataFrame(qid, docid, key, score): per-query top-k with
        the standard (score desc, docid asc) tie-break, rows ordered
        (qid asc, score desc, docid asc); with ``k=None`` ALL matches,
        unordered (no global sort of a corpus-sized result). Scores are
        identical to ``search(q, k)`` per query — same compile, same
        kernel math.

        Scale design (why this beats N ``search`` calls):
        * ONE pruned postings scan for the UNION of all queries' terms —
          one job + one shard exchange instead of N, so driver/job
          overhead (the ~0.3-0.5 s scheduling floor per distributed
          query) is paid once for the whole batch.
        * Cell rows are parsed and decoded once per task and shared
          across every query's evaluation (make_kernel_multi) — hot
          terms appearing in many queries decode once per task.
        * Each task emits at most k rows per query; the per-query global
          top-k is a window over ≤ tasks × |batch| × k rows, and the
          docid→key lookup broadcasts that result against doc_map —
          doc_map itself never shuffles.

        Queries containing MatchAll (doc-universe from doc_lens) and
        runs with massive delete sets take the dedicated single-query
        paths and are unioned into the same result."""
        items = list(queries.items()) if isinstance(queries, dict) else list(queries)
        items = [(str(qid), q) for qid, q in items]  # qid schema is string
        tomb_df = self._tombstones_df()
        if tomb_df is not None:
            # massive delete set: every query needs the cogrouped
            # tombstone path — skip the batch machinery entirely rather
            # than compiling twice (the per-query paths stay correct;
            # batch amortization is n/a when tombstones must cogroup)
            out = None
            for qid, q in items:
                res = self._execute(q, k)
                if k is not None:
                    res = res.orderBy(
                        F.desc("score"), F.asc("docid")
                    ).limit(k)
                res = res.select(F.lit(qid).alias("qid"), "docid", "score")
                out = res if out is None else out.unionByName(res)
            return self._finish_batch(out, k)
        local_parts: list = []
        # amortize dictionary resolution across the batch: ONE df seek for
        # every exact (field, term) in ANY query (warms _df_cache), then
        # compile concurrently — expansion queries (wildcard/range/fuzzy)
        # each need their own dictionary scan, and Spark schedules
        # driver-thread-concurrent jobs in parallel, so the batch pays
        # ~max(expansion latencies), not their sum
        exact_all: set = set()
        rewritten = [(qid, rewrite(q)) for qid, q in items]
        for _, q in rewritten:
            exact_all |= self._exact_pairs(q)[0]
        if exact_all:
            self._lookup_dfs(exact_all)
        compiled: list = []
        if len(rewritten) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(min(8, len(rewritten))) as pool:
                compiled = list(
                    pool.map(lambda it: (it[0], *self._compile(it[1], k)),
                             rewritten)
                )
        else:
            compiled = [(qid, *self._compile(q, k)) for qid, q in rewritten]
        batch: list = []  # (qid, plan, needed)
        fallback: list = []
        local_batch: list = []  # (qid, plan, needed, need_pos)
        union_needed: dict[str, set] = {}
        need_pos_any = False
        # driver-side batch serving through the cell cache: queries whose
        # matched-postings estimate fits the single-query local gate are
        # answered with eval_local over cached rows — one arrow point
        # read for ALL their missing terms, zero Spark jobs. A whole-
        # batch budget (4× the per-query gate) bounds the driver-serial
        # decode work so a batch of hot terms still rides the
        # distributed kernel, which parallelizes it.
        local_ok = (
            not self._force_distributed
            and self._cell_cache_max > 0
            and self.index._postings_dataset() is not None
        )
        local_budget = 4 * FAST_PATH_MAX_POSTINGS
        for (qid, plan, resolved, need_pos), (_, orig_q) in zip(compiled, items):
            if self._has_matchall(resolved):
                fallback.append((qid, orig_q))
                continue
            needed = self._needed_terms(resolved)
            if self._has_docidset(resolved) and not any(needed.values()):
                # zero-term docid-set plans take the per-query driver
                # short-circuit — the multi-plan kernel would emit the
                # cross-shard set once per partition (or nothing when
                # the union scan is empty)
                fallback.append((qid, orig_q))
                continue
            if local_ok and local_budget > 0:
                est = self._est_matched_postings(needed, plan.df_est)
                if est <= FAST_PATH_MAX_POSTINGS and est <= local_budget:
                    local_budget -= max(est, 1)
                    local_batch.append((qid, plan, needed, need_pos))
                    continue
            for f, ts in needed.items():
                union_needed.setdefault(f, set()).update(ts)
            batch.append((qid, plan, needed))
            need_pos_any = need_pos_any or need_pos
        if local_batch:
            from montezuma_spark.search.kernel import eval_local

            # prefetch: ONE point read per positions-variant for every
            # missing term across the whole local sub-batch. Positional
            # first: a cached with-positions entry serves later
            # non-positional requests (the reverse cannot), so terms
            # needed by both variants fetch and cache exactly once
            for np_flag in (True, False):
                pre: dict[str, set] = {}
                for _, _, needed, need_pos in local_batch:
                    if need_pos == np_flag:
                        for f, ts in needed.items():
                            pre.setdefault(f, set()).update(ts)
                if pre:
                    self._ensure_cells(pre, np_flag)
            for qid, plan, needed, need_pos in local_batch:
                rows = self._ensure_cells(needed, need_pos)  # cache hits
                pdf = eval_local(plan, rows)
                pdf = (pdf.iloc[:k] if k is not None else pdf).copy()
                pdf.insert(0, "qid", qid)
                local_parts.append(pdf)
        out = None
        if batch:
            postings = self._postings_for(union_needed, need_pos_any)
            kernel = make_kernel_multi([(qid, p) for qid, p, _ in batch])
            all_single = self.index.config.boost_col is None and all(
                sum(len(ts) for ts in nd.values()) <= 1 for _, _, nd in batch
            )
            if all_single:
                # every plan is one self-contained (field, term) cell →
                # evaluate on the scan partitions, no exchange at all
                out = postings.mapInPandas(kernel, schema=BATCH_RESULT_SCHEMA)
            else:
                df_est: dict = {}
                for _, p, _ in batch:
                    df_est.update(p.df_est)
                n = self._reducer_count(union_needed, df_est)
                out = postings.repartition(n, "shard").mapInPandas(
                    kernel, schema=BATCH_RESULT_SCHEMA
                )
            if k is not None:
                from pyspark.sql.window import Window

                w = Window.partitionBy("qid").orderBy(
                    F.desc("score"), F.asc("docid")
                )
                out = (
                    out.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") <= k)
                    .drop("_rn")
                )
        for qid, q in fallback:
            res = self._execute(q, k)
            if k is not None:
                res = res.orderBy(F.desc("score"), F.asc("docid")).limit(k)
            res = res.select(F.lit(qid).alias("qid"), "docid", "score")
            out = res if out is None else out.unionByName(res)
        if local_parts:
            import pandas as pd

            loc = self.index.spark.createDataFrame(
                pd.concat(local_parts, ignore_index=True),
                schema=BATCH_RESULT_SCHEMA,
            )
            out = loc if out is None else out.unionByName(loc)
        return self._finish_batch(out, k)

    def _finish_batch(self, out, k: int | None) -> DataFrame:
        """doc_map key join + deterministic ordering for batch results."""
        if out is None:
            return self.index.spark.createDataFrame(
                [], schema=BATCH_RESULT_SCHEMA + ", key string"
            ).select("qid", "docid", "key", "score")
        # k-bounded results broadcast against doc_map (≤ |batch|·k rows);
        # k=None returns ALL matches — potentially corpus-sized, so the
        # docid join must stay a plain (sort-merge) join, never broadcast
        side = F.broadcast(out) if k is not None else out
        joined = side.join(self.index.doc_map, "docid", "inner")
        joined = joined.select("qid", "docid", "key", "score")
        if k is None:
            # ALL matches: no global sort of a potentially corpus-sized
            # result — callers aggregate or sort per-query downstream
            return joined
        return joined.orderBy("qid", F.desc("score"), F.asc("docid"))

    def top_docs(self, query: Query, k: int | None = 10,
                 first_doc: int = 0) -> list[tuple[int, float]]:
        """(docid, score) hits, (score desc, docid asc); k=None = all."""
        fetch = (k + first_doc) if k is not None else None
        local = self._execute_local(query, fetch)
        if local is not None:
            sel = (
                local.iloc[first_doc : first_doc + k]
                if k is not None
                else local.iloc[first_doc:]
            )
            return list(sel.itertuples(index=False, name=None))
        # distributed: (docid, score) only — skip search()'s doc_map key
        # join, which top_docs never returns
        result = self._execute(query, fetch).orderBy(
            F.desc("score"), F.asc("docid")
        )
        if first_doc:
            result = result.offset(first_doc)
        if k is not None:
            result = result.limit(k)
        return [(r["docid"], r["score"]) for r in result.collect()]

    def explain(self, query: Query, docid: int) -> dict:
        """Score-breakdown tree for one document — the reference's
        explain surface (explain-score exists but is disabled throughout
        src/search/*.lisp; montezuma.asd:76), rebuilt as a plan walk.
        The root ``value`` equals the served score exactly."""
        from montezuma_spark.search.kernel import explain_doc, rows_from_pandas

        plan, resolved, need_pos = self._compile(query, None)
        postings, _ = self._filtered_postings(resolved, need_pos)
        # the explained doc's contributions live entirely in its
        # docid-range shard — restrict the collect so explaining a
        # web-hot term never pulls its full posting list to the driver
        shard = docid >> self.index.config.shard_bits
        rows = rows_from_pandas(
            postings.filter(F.col("shard") == shard).toPandas()
        )
        lens_pdf = None
        if self._has_matchall(resolved):
            lens_pdf = (
                self.index.doc_lens.filter(F.col("docid") == docid)
                .toPandas()
            )
        return explain_doc(plan, rows, docid, lens_pdf)

    def matching_docids(self, query: Query) -> list[int]:
        """All matching docids, sorted — the golden doc-set surface."""
        local = self._execute_local(query, None)
        if local is not None:
            return sorted(int(d) for d in local["docid"])
        rows = self._execute(query, None).select("docid").collect()
        return sorted(r["docid"] for r in rows)

    def count(self, query: Query) -> int:
        local = self._execute_local(query, None)
        if local is not None:
            return len(local)
        return self._execute(query, None).count()

    def more_like_this(self, docid: int, field: str | None = None,
                       max_terms: int = 25, min_tf: int = 1,
                       min_df: int = 1, k: int | None = 10) -> DataFrame:
        """Similar-document search (the Lucene MoreLikeThis analog —
        beyond-reference, labeled): uninvert the source doc's term vector
        (shard-pruned postings scan), keep its ``max_terms`` terms with
        the highest tf·idf (ties: term asc), and run them as a SHOULD
        disjunction — WAND-prunable like any OR tree. The source doc is
        excluded from the hits. Returns the ``search`` DataFrame shape
        (docid, key, score)."""
        field = field or self.index.config.fields[0].name
        tv = self.index.term_vectors(docids=[int(docid)]).filter(
            F.col("field") == field
        )
        pairs = [
            (r["term"], int(r["tf"]))
            for r in tv.select("term", "tf").collect()
            if int(r["tf"]) >= min_tf
        ]
        dfs = self._lookup_dfs({(field, t) for t, _ in pairs})
        n = self.index.stats.get(field, {}).get("num_docs", 0)
        scored = []
        for t, tf in pairs:
            df = dfs.get((field, t), 0)
            if df < min_df or df <= 0:
                continue
            scored.append((tf * self.similarity.idf(df, n), t))
        scored.sort(key=lambda r: (-r[0], r[1]))
        terms = [t for _, t in scored[:max_terms]]
        if not terms:
            return self.index.spark.createDataFrame(
                [], schema="docid long, key string, score double"
            )
        from montezuma_spark.search.ast import SHOULD, BooleanClause

        q = BooleanQuery(
            tuple(BooleanClause(TermQuery(field, t), SHOULD) for t in terms)
        )
        # fetch k+1: the source doc almost always ranks first
        out = self.search(q, k=None if k is None else k + 1)
        out = out.filter(F.col("docid") != int(docid))
        if k is not None:
            out = out.orderBy(F.desc("score"), F.asc("docid")).limit(k)
        return out

    def rescore(self, query: Query, rescore_query: Query,
                window: int = 100, weight: float = 1.0,
                k: int = 10) -> list[tuple[int, float]]:
        """Second-pass re-ranking (beyond-reference, labeled — the
        Elasticsearch rescorer pattern): take the primary query's top
        ``window`` hits, evaluate ``rescore_query`` ONLY on those docs
        (a bounded DocIdSetQuery FILTER — the expensive secondary never
        scans beyond the window), and re-rank by
        ``primary + weight × secondary``. Returns (docid, score)
        tuples, (score desc, docid asc), ``k`` rows.

        The window is the cost bound: the secondary pays its term
        decodes restricted to ≤ window candidate docs, so a phrase or
        span rescorer costs O(window), not O(matches)."""
        from montezuma_spark.search.ast import FILTER, MUST, BooleanClause

        page = self.top_docs(query, k=window)
        if not page:
            return []
        docids = tuple(int(d) for d, _ in page)
        wrapped = BooleanQuery(
            (
                BooleanClause(rescore_query, MUST),
                BooleanClause(DocIdSetQuery(docids), FILTER),
            )
        )
        sec = dict(self.top_docs(wrapped, k=None))
        combined = [
            (d, s + float(weight) * sec.get(d, 0.0)) for d, s in page
        ]
        combined.sort(key=lambda t: (-t[1], t[0]))
        return combined[:k]

    def phrase_prefix(self, field: str, terms, slop: int = 0,
                      boost: float = 1.0, max_terms: int = 50) -> Query:
        """Build a search-as-you-type query (beyond-reference, labeled
        — the Lucene MultiPhrasePrefixQuery analog): an exact phrase
        over ``terms[:-1]`` whose LAST word is a prefix, expanded to
        its in-vocabulary completions (highest-df first, capped at
        ``max_terms`` — a ``startswith`` pushdown dictionary scan, the
        same seek ``suggest`` uses) and matched as a MultiPhraseQuery
        alternative slot. Returns the query — evaluate with
        ``search()``. A prefix with no completions yields an empty
        boolean (matches nothing)."""
        terms = list(terms)
        if not terms:
            return BooleanQuery(())
        *head, last = terms
        comp = self.suggest(field, last, n=max_terms)
        if not comp:
            return BooleanQuery(())
        alts = [(t,) for t in head]
        alts.append(tuple(sorted(t for t, _df in comp)))
        return MultiPhraseQuery.of(field, alts, slop=slop, boost=boost)

    def spell_correct(self, field: str, term: str, n: int = 5,
                      min_similarity: float = 0.6,
                      prefix_length: int = 0) -> list:
        """Did-you-mean spelling suggestions (beyond-reference, labeled
        — the Lucene SpellChecker analog): the ``n`` in-vocabulary terms
        nearest to ``term`` as (term, df, sim) tuples ordered
        (sim desc, df desc, term asc), the exact ``term`` excluded.
        sim = 1 − levenshtein/min_len — the fuzzy-query family.

        Rides the fuzzy candidate enum (``_fuzzy_scan``: a prefix seek
        into the saved dictionary with a numpy Levenshtein, or the length
        + prefix pushdown scan with the JVM levenshtein — never a
        vocabulary collect) with its OWN truncation order — (sim desc,
        df desc, term asc), so a same-sim higher-df suggestion can never
        be cut the way the fuzzy expansion's (sim desc, term asc)
        boundary could at web vocabularies."""
        node = FuzzyQuery(field, term, min_similarity, prefix_length)
        rows = self._fuzzy_scan(node, True, n + 1)  # +1: the exact term
        return [r for r in rows if r[0] != term][:n]

    def suggest(self, field: str, prefix: str, n: int = 10) -> list:
        """Prefix autocomplete over the term dictionary (beyond-reference,
        labeled): the ``n`` highest-df terms starting with ``prefix``, as
        (term, df) tuples ordered (df desc, term asc).

        On a saved layout it is a prefix range seek into the range-sorted
        dictionary (footer-pruned, no Spark job; df summed over a union's
        segments); otherwise a ``startswith`` pushdown into the term_stats
        scan with the order and limit at scan time. Neither collects the
        vocabulary."""
        reader = self.index._term_stats_dataset()
        if reader is not None:
            found = _saved_slice(reader, field, prefix=prefix)
            return sorted(found.items(), key=lambda r: (-r[1], r[0]))[:n]
        scan = self.index.term_stats.filter(F.col("field") == field)
        if prefix:
            scan = scan.filter(F.col("term").startswith(prefix))
        rows = (
            scan.select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n)
            .collect()
        )
        return [(r["term"], int(r["df"])) for r in rows]

    def facet_counts(self, query: Query, cols) -> DataFrame:
        """Value counts of stored doc_map columns over the query's matches
        (the Lucene-faceting analog — a labeled beyond-reference
        extension). Returns DataFrame(*cols, count), ordered by cols.

        Scale shape: the match side carries docid only (no top-k
        truncation); the doc_map join is a docid-key sort-merge over the
        docid-range-sorted stored table, and the groupBy reduces to one
        row per distinct facet value — partial aggregation map-side, so
        the shuffle is ~|distinct values| × partitions, never ~|matches|."""
        cols = [cols] if isinstance(cols, str) else list(cols)
        local = self._execute_local(query, None)
        if local is not None:
            matched = self.index.spark.createDataFrame(
                local, schema=RESULT_SCHEMA
            )
        else:
            matched = self._execute(query, None)
        out = matched.select("docid").join(
            self.index.doc_map, "docid", "inner"
        )
        return (
            out.groupBy(*cols)
            .agg(F.count("*").alias("count"))
            .orderBy(*cols)
        )

    def search_collapse(self, query: Query, collapse_col: str,
                        k: int = 10) -> DataFrame:
        """Field collapsing (the Lucene CollapsingTopDocsCollector analog
        — a labeled beyond-reference extension): keep only the single
        best hit per distinct ``collapse_col`` value (a stored doc_map
        column), then top-k of those group winners. Returns
        DataFrame(collapse_col, docid, score) ordered by
        (score desc, docid asc) — the engine-wide tie-break.

        Scale shape: group winners come from ONE
        groupBy(collapse_col).max(struct(score, -docid)) — an argmax
        that partial-aggregates map-side, so each task emits at most
        |distinct collapse values| rows into the shuffle. A hot collapse
        value (half the corpus sharing one host, say) never concentrates
        its hits on one task, unlike the row_number-window formulation,
        which must co-locate every hit of a value to rank them."""
        local = self._execute_local(query, None)
        if local is not None:
            matched = self.index.spark.createDataFrame(
                local, schema=RESULT_SCHEMA
            )
        else:
            matched = self._execute(query, None)
        hits = matched.select("docid", "score").join(
            self.index.doc_map.select("docid", collapse_col),
            "docid", "inner",
        )
        # argmax by (score desc, docid asc): struct max compares score
        # first, then -docid (docids are non-negative), so the winner is
        # the highest score with the LOWEST docid on ties.
        best = (
            hits.groupBy(collapse_col)
            .agg(
                F.max(
                    F.struct(
                        F.col("score").alias("s"),
                        (-F.col("docid")).alias("nd"),
                    )
                ).alias("w")
            )
            .select(
                F.col(collapse_col),
                (-F.col("w.nd")).alias("docid"),
                F.col("w.s").alias("score"),
            )
        )
        return best.orderBy(F.desc("score"), F.asc("docid")).limit(k)

    def search_grouped(self, query: Query, group_col: str,
                       k_groups: int = 10,
                       k_per_group: int = 3) -> DataFrame:
        """Result grouping (beyond-reference, labeled — the Lucene
        grouping-module analog, generalizing ``search_collapse`` from 1
        to ``k_per_group`` hits per group): the top ``k_per_group`` hits
        for each distinct ``group_col`` value, for the ``k_groups``
        groups whose BEST hit ranks highest. Groups are ordered
        (best score desc, best docid asc), hits inside a group
        (score desc, docid asc).

        Scale shape: an Arrow-batched per-PARTITION pruner keeps only
        ``k_per_group`` rows per group per task BEFORE the shuffle, so
        each group's reducer receives ≤ k_per_group × n_partitions rows
        no matter how hot the group — never a row_number window over a
        hot key's full hit list. The global per-group top-n is then a
        bounded ``sort_array(collect_list)[:n]`` aggregate and only
        ``k_groups × k_per_group`` rows leave it."""
        local = self._execute_local(query, None)
        if local is not None:
            matched = self.index.spark.createDataFrame(
                local, schema=RESULT_SCHEMA
            )
        else:
            matched = self._execute(query, None)
        hits = matched.select("docid", "score").join(
            self.index.doc_map.select("docid", group_col),
            "docid", "inner",
        )
        n = int(k_per_group)

        def prune(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                pdf = pdf.sort_values(
                    ["score", "docid"], ascending=[False, True]
                )
                # dropna=False: a NULL group value is a group like any
                # other (the downstream Spark groupBy and
                # search_collapse both keep it; pandas' default drop
                # would silently lose those hits)
                yield pdf.groupby(group_col, sort=False, dropna=False).head(n)

        pruned = hits.mapInPandas(prune, schema=hits.schema)
        # struct (s, nd=-docid) sorts (score desc, docid asc) under the
        # same descending array sort the collapse argmax uses
        agg = pruned.groupBy(group_col).agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("score").alias("s"),
                            (-F.col("docid")).alias("nd"),
                        )
                    ),
                    asc=False,
                ),
                1, n,
            ).alias("tops")
        )
        top_groups = (
            agg.withColumn("_bs", F.col("tops")[0]["s"])
            .withColumn("_bnd", F.col("tops")[0]["nd"])
            .orderBy(F.desc("_bs"), F.desc("_bnd"))
            .limit(int(k_groups))
        )
        return (
            top_groups.select(
                group_col, "_bs", "_bnd",
                F.posexplode("tops").alias("_pos", "h"),
            )
            .orderBy(F.desc("_bs"), F.desc("_bnd"), F.asc("_pos"))
            .select(
                F.col(group_col),
                (-F.col("h.nd")).alias("docid"),
                F.col("h.s").alias("score"),
            )
        )

    def search_sorted(self, query: Query, k: int = 10,
                      sort_by: list[tuple[str, bool]] | None = None) -> DataFrame:
        """Sort hits by stored fields / score / docid (the reference's sort
        search option, src/search/sort.lisp + sort-field.lisp).

        ``sort_by``: list of (column, descending) — columns are "score",
        "docid", or any stored column in doc_map (config.store_cols).
        """
        local = self._execute_local(query, None)
        if local is not None:
            result = self.index.spark.createDataFrame(local, schema=RESULT_SCHEMA)
        else:
            result = self._execute(query, None)
        out = result.join(self.index.doc_map, "docid", "inner")
        order = [
            (F.desc(col) if desc else F.asc(col))
            for col, desc in (sort_by or [("score", True), ("docid", False)])
        ]
        return out.orderBy(*order).limit(k)

    def filtered(self, query: Query, filter_query: Query) -> Query:
        """Combine a scoring query with a scoreless filter (ref filter.lisp)."""
        from montezuma_spark.search.ast import FILTER, BooleanClause

        return BooleanQuery(
            (BooleanClause(query, "MUST"), BooleanClause(filter_query, FILTER))
        )

    def delete_docs_with_term(self, field: str, term: str) -> int:
        """Tombstone every doc matching (field, term) —
        delete-docs-with-term analog (src/index/index-reader.lisp:148-153).
        Returns the number of newly deleted docs."""
        docids = self.matching_docids(TermQuery(field, term))
        return self.index.delete_docs(docids)

    def _match_spans(self, query: Query, docid: int,
                     field: str | None = None):
        """All (term, start, end) char spans of the query's resolved
        terms in one doc, (start, end)-sorted, from the offsets sidecar
        — None when the query resolves to no offset-bearing terms.
        Shared by highlight (which drops overlaps) and snippets (which
        scores passages over the full span set)."""
        resolved, _, _, _ = self._resolve(query)
        needed = self._needed_terms(resolved)
        if field is not None:
            needed = {field: needed.get(field, set())}
        tv = self.index.term_vectors(docids=[docid], with_offsets=True)
        cond = None
        for f, terms in needed.items():
            if not terms:
                continue
            c = (F.col("field") == f) & F.col("term").isin(sorted(terms))
            cond = c if cond is None else (cond | c)
        if cond is None:
            return None
        spans: list[tuple[str, int, int]] = []
        for r in tv.filter(cond).collect():
            for s, e in zip(r["starts"], r["ends"]):
                spans.append((r["term"], int(s), int(e)))
        spans.sort(key=lambda x: (x[1], x[2]))
        return spans

    def snippets(self, query: Query, docid: int, *,
                 field: str | None = None, text: str | None = None,
                 window: int = 120, n: int = 1,
                 pre: str = "<b>", post: str = "</b>"):
        """Best-passage selection (the Lucene UnifiedHighlighter analog,
        beyond-reference, labeled): among char windows of ``window``
        anchored at each match span, keep the ``n`` highest-scoring
        non-overlapping passages — score = (matched spans, distinct
        terms, earliest start). Driver-side over ONE doc's match spans
        (bounded by that doc's matches — never a corpus scan).

        Returns a list of dicts (start, end, n_matches, terms[, text])
        ordered best-first; with ``text``, each passage carries the
        fragment with every span wrapped in ``pre``/``post``.
        """
        spans = self._match_spans(query, docid, field)
        if not spans:
            return []
        chosen: list[dict] = []
        taken: list[tuple[int, int]] = []

        def _overlaps_taken(s: int, e: int) -> bool:
            # reject any span OVERLAPPING a chosen passage (not just
            # starts inside it) — a straddling span would otherwise pull
            # a later window across a chosen passage's boundary
            return any(s < b and e > a for a, b in taken)

        for _ in range(n):
            best = None
            for i, (_, s0, e0) in enumerate(spans):
                if _overlaps_taken(s0, e0):
                    continue
                group = []
                for t, s, e in spans[i:]:
                    if s >= s0 + window:
                        break  # starts are sorted — nothing later fits
                    if e > s0 + window:
                        continue  # long straddler; shorter spans may follow
                    if _overlaps_taken(s, e):
                        continue
                    group.append((t, s, e))
                if not group:
                    continue
                key = (len(group), len({t for t, _, _ in group}), -s0)
                if best is None or key > best[0]:
                    best = (key, group)
            if best is None:
                break
            _, group = best
            lo, hi = group[0][1], max(e for _, _, e in group)
            frag: dict = {
                "start": lo,
                "end": hi,
                "n_matches": len(group),
                "terms": sorted({t for t, _, _ in group}),
            }
            if text is not None:
                out, prev = [], lo
                for _, s, e in group:
                    if s < prev:  # overlapping span (duplicate term hit)
                        continue
                    out.append(text[prev:s])
                    out.append(pre + text[s:e] + post)
                    prev = e
                out.append(text[prev:hi])
                frag["text"] = "".join(out)
            chosen.append(frag)
            taken.append((lo, hi))
        return chosen

    def highlight(self, query: Query, docid: int, field: str | None = None,
                  text: str | None = None, pre: str = "<b>",
                  post: str = "</b>"):
        """Match spans for one document from the offsets term-vectors
        sidecar (requires ``FieldConfig(offsets=True)`` at build time) —
        the downstream consumer the reference stores offsets for
        (term-vector-offset-info.lisp).

        Resolves the query (range/wildcard expanded like search), fetches
        the doc's sidecar rows for the matched terms, and returns sorted
        non-overlapping (term, start, end) spans — or, when ``text`` is
        given, the text with every span wrapped in ``pre``/``post``.
        """
        spans = self._match_spans(query, docid, field)
        if spans is None:
            return [] if text is None else text
        # drop overlaps (keep the earliest-starting span)
        dedup: list[tuple[str, int, int]] = []
        for sp in spans:
            if not dedup or sp[1] >= dedup[-1][2]:
                dedup.append(sp)
        if text is None:
            return dedup
        out = []
        prev = 0
        for _, s, e in dedup:
            out.append(text[prev:s])
            out.append(pre + text[s:e] + post)
            prev = e
        out.append(text[prev:])
        return "".join(out)

    def get_document(self, docid: int, join_multi: bool = True) -> dict | None:
        """Fetch the stored document by docid (get-document analog,
        src/index/index.lisp:226-233). Multi-valued stored fields (array
        store_cols) are concatenated with a single space at fetch time —
        the reference's ``document-values`` (document.lisp:85-91 joins
        same-name field values with ``"~{~A~^ ~}"``); pass
        ``join_multi=False`` for the raw arrays (``document-fields``)."""
        rows = self.index.doc_map.filter(F.col("docid") == docid).limit(1).collect()
        if not rows:
            return None
        d = rows[0].asDict()
        if join_multi:
            for k, v in d.items():
                if isinstance(v, list):
                    d[k] = " ".join(
                        "" if x is None else str(x) for x in v
                    )
        return d

    def each_hit(self, query: Query):
        """Iterate (docid, score) over every hit — search-each analog
        (src/search/index-searcher.lisp:110-119); unordered, distributed."""
        local = self._execute_local(query, None)
        if local is not None:
            for t in local.itertuples(index=False, name=None):
                yield t
            return
        for row in self._execute(query, None).toLocalIterator():
            yield (row["docid"], row["score"])
