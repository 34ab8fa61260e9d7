"""Query AST + logical rewrites.

Mirrors the reference's query classes (src/search/*.lisp) and its rewrite
fixpoint (src/search/index-searcher.lisp:121-127):

* 1-term phrase → term query          (src/search/phrase-query.lisp:102-112)
* single-clause boolean unwrap + boost folding
                                      (src/search/boolean-query.lisp:75-102)
* range/wildcard stay as dictionary *predicates* (better than the reference's
  OR-of-every-term expansion, src/search/range-query.lisp:21-45 — the
  predicate pushes into the parquet dictionary scan; concrete terms are only
  materialized driver-side, capped).

Occur semantics per src/search/boolean-clause.lisp:36-46.
"""

from __future__ import annotations

import fnmatch
import re
from dataclasses import dataclass, field as dc_field, replace

MUST = "MUST"
SHOULD = "SHOULD"
MUST_NOT = "MUST_NOT"
# FILTER restricts matches like MUST but contributes no score — the
# boolean-occur analog of the reference's search :filter option
# (src/search/filter.lisp:1-8, applied index-searcher.lisp:73-90).
FILTER = "FILTER"


@dataclass(frozen=True)
class Query:
    pass


@dataclass(frozen=True)
class TermQuery(Query):
    field: str
    term: str
    boost: float = 1.0


@dataclass(frozen=True)
class PhraseQuery(Query):
    """Ordered terms at explicit relative positions; slop per the reference
    (src/search/phrase-query.lisp:6-44, sloppy-phrase-scorer.lisp:6-34).

    ``weight`` picks the sloppy-match tf semantics:
      * "count"       — each in-slop window counts 1 (integer tf)
      * "reciprocal"  — each window counts 1/(1+span), the reference's
                        sloppy-freq (similarity.lisp:158-159)
    Exact phrases (slop=0) are unaffected (span=0 → both modes agree).
    """

    field: str
    terms: tuple[str, ...]
    offsets: tuple[int, ...]  # position offset of each term (gaps allowed)
    slop: int = 0
    boost: float = 1.0
    weight: str = "count"

    @staticmethod
    def of(field: str, terms, slop: int = 0, boost: float = 1.0,
           weight: str = "count") -> "PhraseQuery":
        return PhraseQuery(
            field, tuple(terms), tuple(range(len(terms))), slop, boost, weight
        )


@dataclass(frozen=True)
class MultiPhraseQuery(Query):
    """Phrase with per-position term ALTERNATIVES ("batch (batch|window)")
    — a beyond-reference EXTENSION from the reference's Lucene lineage
    (multi-phrase is named in the reference's commented-out
    merge-boolean-queries port only; never built). A position slot
    matches when ANY of its alternatives occurs there; slop/weight
    semantics are identical to PhraseQuery over the per-slot position
    unions; idf = Σ over the distinct terms of all slots."""

    field: str
    alternatives: tuple[tuple[str, ...], ...]  # terms per position slot
    offsets: tuple[int, ...]
    slop: int = 0
    boost: float = 1.0
    weight: str = "count"

    @staticmethod
    def of(field: str, alternatives, slop: int = 0, boost: float = 1.0,
           weight: str = "count") -> "MultiPhraseQuery":
        alts = tuple(
            tuple(a) if isinstance(a, (list, tuple)) else (a,)
            for a in alternatives
        )
        return MultiPhraseQuery(
            field, alts, tuple(range(len(alts))), slop, boost, weight
        )


@dataclass(frozen=True)
class RangeQuery(Query):
    field: str
    lower: str | None
    upper: str | None
    include_lower: bool = True
    include_upper: bool = True
    boost: float = 1.0


@dataclass(frozen=True)
class WildcardQuery(Query):
    field: str
    pattern: str  # glob: * and ?
    boost: float = 1.0

    def to_regex(self) -> str:
        return fnmatch.translate(self.pattern)

    def literal_prefix(self) -> str:
        m = re.match(r"^[^*?]*", self.pattern)
        return m.group(0) if m else ""


@dataclass(frozen=True)
class RegexpQuery(Query):
    """Anchored-regex term expansion — a beyond-reference EXTENSION
    (the Lucene RegexpQuery analog; the reference's only multi-term
    enums are wildcard and range, wildcard-term-enum.lisp). The pattern
    must match the WHOLE term (anchoring is applied by the engine —
    never write ``^``/``$`` yourself, Lucene semantics).

    Accepted subset: the regex syntax Java and Python ``re`` agree on —
    literals, ``.``, character classes with ranges and negation
    (``[0-9]``, ``[^a-z]``), the ASCII shorthand classes
    ``\\d``/``\\w``/``\\s``, greedy and lazy quantifiers (``* + ? {m,n}``),
    alternation and groups. A saved layout expands in the driver with
    ``re.fullmatch`` under ``re.ASCII`` (so ``\\d``/``\\w``/``\\s`` match
    ASCII only, as in Java); an unsaved index expands through the JVM
    ``rlike``. A pattern Python cannot compile (Java's ``\\p{L}``
    property classes, …) raises ValueError on a saved layout; Java syntax
    Python compiles differently (``&&`` class intersections, possessive
    quantifiers before 3.11, ``.`` against a line terminator other than
    ``\\n``) is outside the subset."""

    field: str
    pattern: str
    boost: float = 1.0

    def literal_prefix(self) -> str:
        """Leading literal run — prunes the dictionary scan the same way
        the wildcard's constant prefix does. Conservative: an unescaped
        top-level ``|`` anywhere disables the prefix entirely (the right
        alternative need not share it), and a quantifier that can make
        its preceding char optional (``*``, ``?``, ``{``) drops that
        char from the run (``words?`` must still reach ``word``)."""
        if "|" in self.pattern:
            # a TOP-LEVEL unescaped | voids the prefix (the right
            # alternative need not share it); | inside a group or a
            # character class is scoped and the leading literal run
            # (which stops at '(' / '[') stays valid
            depth, in_class, i = 0, False, 0
            while i < len(self.pattern):
                c = self.pattern[i]
                if c == "\\":
                    i += 2
                    continue
                if in_class:
                    if c == "]":
                        in_class = False
                elif c == "[":
                    in_class = True
                elif c == "(":
                    depth += 1
                elif c == ")":
                    depth = max(0, depth - 1)
                elif c == "|" and depth == 0:
                    return ""
                i += 1
        m = re.match(r"^[^\\.\[\]()*+?{}|^$]*", self.pattern)
        run = m.group(0) if m else ""
        nxt = self.pattern[len(run): len(run) + 1]
        if run and nxt in ("*", "?", "{"):
            run = run[:-1]
        return run


@dataclass(frozen=True)
class FuzzyQuery(Query):
    """Edit-distance term expansion — a beyond-reference EXTENSION (the
    reference never built fuzzy: the only mention is a FuzzyQuery name in
    a boolean-query docstring, boolean-query.lisp:42). Semantics follow
    the Lucene/Ferret lineage the reference ports:

      sim(q, t) = 1 − levenshtein(q, t) / min(len(q), len(t))

    terms with sim ≥ ``min_similarity`` (and sharing the first
    ``prefix_length`` chars) are OR'd, each boosted by
    ``(sim − min_sim) / (1 − min_sim)`` so nearer spellings outrank
    distant ones. Expansion never collects the vocabulary: on a saved
    layout it is a driver-direct seek at the constant prefix with the
    length bounds and a numpy Levenshtein applied in Python; on an
    unsaved index the length bounds and prefix reach the parquet scan and
    the JVM ``levenshtein`` filters the pruned slice. Both compute sim in
    the same float64 arithmetic."""

    field: str
    term: str
    min_similarity: float = 0.5
    prefix_length: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class SpanNearQuery(Query):
    """Positional proximity over unit-length term spans — a
    beyond-reference EXTENSION from the reference's Lucene lineage (the
    reference has NO span queries anywhere: montezuma.asd's exhaustive
    file list carries no span-* components). Semantics follow Lucene's
    SpanNearQuery over single-term spans:

    a doc matches when one position can be chosen per listed term
    instance, all positions DISTINCT, with
    ``(max - min) - (n - 1) <= slop`` (n = len(terms); equivalently the
    covering window is at most ``slop + n - 1`` positions wide). With
    ``in_order=True`` the chosen positions must additionally be strictly
    increasing in the listed term order. Duplicate terms are allowed and
    must map to distinct positions (two "a"s can't share one token).

    ``first`` (Lucene SpanFirstQuery analog): when set, every chosen
    position must lie in the document's first ``first`` tokens
    (position < first) — e.g. ``terms=["x"], first=3`` matches docs
    opening with "x" in their first three tokens. It composes with
    slop/in_order unchanged: the kernels simply restrict each term's
    position stream to the prefix before matching.

    CONSTANT-SCORE: matching docs score exactly ``boost`` — the
    ConstantScoreQuery composition Lucene users wrap spans in — so the
    node composes in boolean trees as a structural predicate; tf/idf/
    norms don't apply and its sum-of-squared-weights contribution is 0
    (under classic normalize_query the constant is still scaled by the
    tree's query_norm, like every clause)."""

    field: str
    terms: tuple[str, ...]
    slop: int = 0
    in_order: bool = False
    boost: float = 1.0
    first: int | None = None

    @staticmethod
    def of(field: str, terms, slop: int = 0, in_order: bool = False,
           boost: float = 1.0, first: int | None = None) -> "SpanNearQuery":
        return SpanNearQuery(
            field, tuple(terms), slop, in_order, boost, first
        )


@dataclass(frozen=True)
class MatchAllQuery(Query):
    boost: float = 1.0


@dataclass(frozen=True)
class DocIdSetQuery(Query):
    """Matches an explicit BOUNDED docid set, score = ``boost`` per doc
    (beyond-reference, labeled — the Lucene DocIdSet/TermInSetQuery
    family's role as a filter leaf). Intended for k-scale sets riding
    the compiled plan (a rescore window, "search within results", a
    security allowlist): the tuple ships inside the task closure, so
    callers must keep it bounded — table-sized delete sets go through
    the cogrouped tombstone path instead (CLAUDE.md), never this node."""

    docids: tuple[int, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class ConstantScoreQuery(Query):
    """Every matching doc scores exactly ``boost`` — the Lucene
    ConstantScoreQuery analog (beyond-reference, labeled; the
    reference's only scoreless construct is the filter search option,
    src/search/filter.lisp). Evaluated natively: the wrapped query
    produces its MATCH SET (the same bounded decode as scoring it) and
    every hit scores ``boost`` — O(matches), never the
    MatchAll-∧-FILTER formulation's O(corpus) doc_lens scan, and the
    driver-local serving tiers stay eligible."""

    query: Query
    boost: float = 1.0


@dataclass(frozen=True)
class BooleanClause:
    query: Query
    occur: str = SHOULD


@dataclass(frozen=True)
class BooleanQuery(Query):
    """``coord_disabled`` mirrors the reference exactly: coord scoring is
    OFF by default (boolean-query.lisp:12-13 ``:initform T``) and opt-in
    per query. When enabled, each doc's clause-sum is multiplied by
    ``similarity.coord(matchers, max_coord)`` where max_coord counts the
    scoring (non-prohibited) clauses (boolean-scorer.lisp:52-54,262-266).
    FILTER clauses are a local extension and never count.

    ``min_should_match`` (beyond-reference, labeled — the Lucene
    minimum-number-should-match analog): a doc must match at least this
    many SHOULD clauses (in addition to every MUST). 0 keeps the
    classic semantics (pure disjunctions need ≥1 match by construction;
    MUST-driven trees need none). Like ``coord_disabled``, it MUST
    survive every tree reconstruction. Trees with
    ``min_should_match > 1`` never take the WAND-pruned path (it needs
    per-doc matcher counts, same exclusion as coord)."""

    clauses: tuple[BooleanClause, ...] = ()
    boost: float = 1.0
    coord_disabled: bool = True
    min_should_match: int = 0

    def add(self, query: Query, occur: str = SHOULD) -> "BooleanQuery":
        return BooleanQuery(
            self.clauses + (BooleanClause(query, occur),),
            self.boost,
            self.coord_disabled,
            self.min_should_match,
        )


def bool_query(*clauses: tuple[Query, str],
               coord_disabled: bool = True,
               min_should_match: int = 0) -> BooleanQuery:
    return BooleanQuery(
        tuple(BooleanClause(q, o) for q, o in clauses),
        coord_disabled=coord_disabled,
        min_should_match=min_should_match,
    )


def _scale_boost(q: Query, factor: float) -> Query:
    return replace(q, boost=q.boost * factor)


def rewrite(q: Query) -> Query:
    """Apply the rewrite fixpoint (cheap, driver-side)."""
    while True:
        q2 = _rewrite_once(q)
        if q2 == q:
            return q
        q = q2


def _rewrite_once(q: Query) -> Query:
    if isinstance(q, ConstantScoreQuery):
        inner = _rewrite_once(q.query)
        if inner is q.query:
            return q
        return ConstantScoreQuery(inner, q.boost)
    if isinstance(q, PhraseQuery) and len(q.terms) == 1:
        return TermQuery(q.field, q.terms[0], q.boost)
    if (
        isinstance(q, MultiPhraseQuery)
        and len(q.alternatives) == 1
        and len(q.alternatives[0]) == 1
    ):
        return TermQuery(q.field, q.alternatives[0][0], q.boost)
    if isinstance(q, BooleanQuery):
        new_clauses = tuple(
            BooleanClause(_rewrite_once(c.query), c.occur) for c in q.clauses
        )
        q = BooleanQuery(
            new_clauses, q.boost, q.coord_disabled, q.min_should_match
        )
        # single non-prohibited, scoring clause → unwrap with boost
        # folded. min_should_match blocks the unwrap except for the
        # equivalent case (msm=1 over a single SHOULD == that clause);
        # msm > n_shoulds must stay a boolean so it matches nothing.
        if len(q.clauses) == 1 and q.clauses[0].occur in (MUST, SHOULD):
            msm_ok = q.min_should_match == 0 or (
                q.min_should_match == 1 and q.clauses[0].occur == SHOULD
            )
            if msm_ok:
                return _scale_boost(q.clauses[0].query, q.boost)
        return q
    return q
