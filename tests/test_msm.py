"""minimum_should_match (beyond-reference, labeled — the Lucene
minimum-number-should-match analog on BooleanQuery)."""

import pytest

from montezuma_spark.fixtures import search_docs_df
from montezuma_spark.index import FieldConfig, IndexConfig, build_index
from montezuma_spark.oracle import OracleIndex
from montezuma_spark.search import (
    MUST,
    SHOULD,
    Searcher,
    TermQuery,
    bool_query,
    rewrite,
)

CFG = IndexConfig(
    fields=[FieldConfig("field", "field", "whitespace")],
    key_col="url", shard_bits=3, block_size=4,
)

W = [TermQuery("field", t) for t in ("word2", "word3", "fox")]


@pytest.fixture(scope="module")
def corpus(spark):
    idx = build_index(spark, search_docs_df(spark), CFG)
    o = OracleIndex()
    for i, r in enumerate(search_docs_df(spark).orderBy("url").collect()):
        o.add(i, {"field": (r["field"], "whitespace")})
    return idx, o


def _q(msm, coord_disabled=True, clauses=None):
    return bool_query(
        *[(w, SHOULD) for w in (clauses or W)],
        coord_disabled=coord_disabled,
        min_should_match=msm,
    )


def test_msm2_matches_oracle_and_bruteforce(corpus):
    idx, o = corpus
    s = Searcher(idx)
    got = s.top_docs(_q(2), k=None)
    want = o.top_k(_q(2), k=len(got) + 5)
    assert [(d, pytest.approx(sc)) for d, sc in want] == got
    # brute set check: docs matching >= 2 of the three terms
    sets = [set(s.matching_docids(w)) for w in W]
    expect = {
        d
        for d in set().union(*sets)
        if sum(d in t for t in sets) >= 2
    }
    assert {d for d, _ in got} == expect and got


def test_msm1_equals_default_disjunction(corpus):
    idx, _ = corpus
    s = Searcher(idx)
    assert s.top_docs(_q(1), k=None) == s.top_docs(_q(0), k=None)


def test_msm_with_must_clause(corpus):
    idx, o = corpus
    s = Searcher(idx)
    q = bool_query(
        (TermQuery("field", "word1"), MUST),
        (W[0], SHOULD), (W[1], SHOULD), (W[2], SHOULD),
        min_should_match=2,
    )
    got = s.top_docs(q, k=None)
    want = o.top_k(q, k=len(got) + 5)
    assert [(d, pytest.approx(sc)) for d, sc in want] == got and got


def test_msm_above_clause_count_is_empty(corpus):
    idx, o = corpus
    s = Searcher(idx)
    assert s.top_docs(_q(4), k=None) == []
    assert o.top_k(_q(4)) == []


def test_msm_with_coord_enabled(corpus):
    idx, o = corpus
    s = Searcher(idx)
    q = _q(2, coord_disabled=False)
    got = s.top_docs(q, k=None)
    want = o.top_k(q, k=len(got) + 5)
    assert [(d, pytest.approx(sc)) for d, sc in want] == got and got


def test_tiers_agree(corpus, saved_copy):
    idx, _ = corpus
    q = _q(2)
    a = Searcher(idx).top_docs(q, k=None)
    b = Searcher(idx, distributed=True).top_docs(q, k=None)
    c = Searcher(saved_copy(idx)).top_docs(q, k=None)
    assert a == b == c and a


def test_rewrite_unwrap_guard():
    one = bool_query((TermQuery("f", "t"), SHOULD), min_should_match=1)
    assert rewrite(one) == TermQuery("f", "t")
    two = bool_query((TermQuery("f", "t"), SHOULD), min_should_match=2)
    r = rewrite(two)
    assert not isinstance(r, TermQuery)
    assert r.min_should_match == 2

def test_msm_unsatisfiable_on_filter_only_tree(corpus):
    """Regression: msm > n_shoulds must be unsatisfiable on FILTER-only
    trees too, not just MUST-driven ones (the early filters-only path
    used to skip the check)."""
    from montezuma_spark.search.ast import FILTER

    idx, o = corpus
    s = Searcher(idx)
    q = bool_query(
        (TermQuery("field", "word1"), FILTER), min_should_match=1
    )
    assert s.top_docs(q, k=None) == []
    assert o.top_k(q) == []
