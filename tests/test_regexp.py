"""RegexpQuery — beyond-reference extension (Lucene RegexpQuery
analog; the reference's only multi-term enums are wildcard + range,
wildcard-term-enum.lisp). Whole-term anchored semantics; expansion is
a pushdown dictionary scan (literal prefix + rlike)."""

import pytest

from montezuma_spark.fixtures import search_docs_df
from montezuma_spark.index import FieldConfig, IndexConfig, build_index
from montezuma_spark.oracle import OracleIndex
from montezuma_spark.search import (
    MUST,
    RegexpQuery,
    Searcher,
    TermQuery,
    WildcardQuery,
    bool_query,
)


@pytest.fixture(scope="module")
def corpus(spark):
    docs = search_docs_df(spark)
    cfg = IndexConfig(
        fields=[FieldConfig("field", "field", "whitespace")],
        key_col="url", shard_bits=2,
    )
    idx = build_index(spark, docs, cfg)
    o = OracleIndex()
    for i, r in enumerate(search_docs_df(spark).orderBy("url").collect()):
        o.add(i, {"field": (r["field"], "whitespace")})
    return idx, o


def test_literal_prefix():
    assert RegexpQuery("f", "word[12]").literal_prefix() == "word"
    assert RegexpQuery("f", "(a|b)c").literal_prefix() == ""
    assert RegexpQuery("f", r"ab\d+").literal_prefix() == "ab"
    assert RegexpQuery("f", "plain").literal_prefix() == "plain"
    # a quantifier that can void its preceding char drops it from the
    # run ('words?' must still reach 'word'); '+' keeps it
    assert RegexpQuery("f", "words?").literal_prefix() == "word"
    assert RegexpQuery("f", "ab*c").literal_prefix() == "a"
    assert RegexpQuery("f", "word{1,2}").literal_prefix() == "wor"
    assert RegexpQuery("f", "words+").literal_prefix() == "words"
    # top-level alternation voids the prefix entirely; a grouped or
    # class-scoped pipe and an escaped pipe do not
    assert RegexpQuery("f", "cat|dog").literal_prefix() == ""
    assert RegexpQuery("f", r"a\|b").literal_prefix() == "a"
    assert RegexpQuery("f", "s(park|can)").literal_prefix() == "s"
    assert RegexpQuery("f", "x[|]y|z").literal_prefix() == ""
    assert RegexpQuery("f", "x[|]y").literal_prefix() == "x"


def test_optional_tail_and_alternation_expand_fully(corpus):
    """Regression: the prefix must not exclude terms the regex matches
    ('word12?' matches word1; 'word1|fox' matches both alternatives)."""
    idx, o = corpus
    s = Searcher(idx)
    for pat in ("word12?", "word1|fox"):
        q = RegexpQuery("field", pat)
        got = s.top_docs(q, k=None)
        want = o.top_k(q, k=len(got) + 5)
        assert len(got) > 0, pat
        assert [(d, pytest.approx(sc)) for d, sc in want] == got, pat


def test_expansion_is_whole_term_anchored(corpus):
    idx, _ = corpus
    s = Searcher(idx)
    # 'word.' must match word1..wordN but NOT 'word' itself (if absent)
    # and NOT partial containment like 'keyword'
    exp = s._expand_regexp(RegexpQuery("field", "word[13]"))
    assert [t for t, _ in exp] == ["word1", "word3"]
    # unanchored intent ('ord' substring) must match nothing whole-term
    assert s._expand_regexp(RegexpQuery("field", "ord")) == ()


def test_matches_oracle_scores(corpus):
    idx, o = corpus
    s = Searcher(idx)
    for pat in ("word[12]", "(word1|word3)", "w.*d1", "word\\d"):
        q = RegexpQuery("field", pat)
        got = s.top_docs(q, k=None)
        want = o.top_k(q, k=len(got) + 5)
        assert [(d, pytest.approx(sc)) for d, sc in want] == got, pat


def test_equivalent_wildcard_same_results(corpus):
    idx, _ = corpus
    s = Searcher(idx)
    rq = s.top_docs(RegexpQuery("field", "word.*"), k=None)
    wq = s.top_docs(WildcardQuery("field", "word*"), k=None)
    assert rq == wq and len(rq) > 0


def test_tiers_agree(corpus, saved_copy):
    idx, _ = corpus
    q = RegexpQuery("field", "word[123]")
    cold = Searcher(idx).top_docs(q, k=None)
    hot = Searcher(saved_copy(idx)).top_docs(q, k=None)
    dist = Searcher(idx, distributed=True).top_docs(q, k=None)
    assert cold == hot == dist
    assert len(cold) > 0


def test_composes_in_boolean_tree(corpus):
    idx, o = corpus
    s = Searcher(idx)
    q = bool_query(
        (RegexpQuery("field", "word[12]"), MUST),
        (TermQuery("field", "word3"), MUST),
    )
    got = s.top_docs(q, k=None)
    want = o.top_k(q, k=len(got) + 5)
    assert [(d, pytest.approx(sc)) for d, sc in want] == got
