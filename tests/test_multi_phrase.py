"""MultiPhraseQuery — per-position term alternatives (beyond-reference
extension from the Lucene lineage; the reference never built it). A slot
matches where ANY of its alternatives occurs; slop/weight semantics equal
PhraseQuery over per-slot position unions."""

import pytest

from montezuma_spark.fixtures import search_docs_df
from montezuma_spark.index import FieldConfig, IndexConfig, build_index
from montezuma_spark.oracle import OracleIndex
from montezuma_spark.search import (
    MultiPhraseQuery,
    PhraseQuery,
    Searcher,
    TermQuery,
)
from montezuma_spark.search.ast import rewrite


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


def test_multi_phrase_matches_oracle_both_tiers(spark, corpus, saved_copy):
    idx, o = corpus
    saved = saved_copy(idx)
    queries = [
        MultiPhraseQuery.of("field", ["word1", ("word2", "word3")]),
        MultiPhraseQuery.of("field", [("word1",), ("word2", "word3")], slop=1),
        MultiPhraseQuery.of(
            "field", [("quick", "fast"), "brown"], slop=0
        ),
        MultiPhraseQuery.of(
            "field", ["word1", ("word2", "word3")], slop=2,
            weight="reciprocal",
        ),
        MultiPhraseQuery.of("field", ["word1", ("word2", "word3")], boost=2.0),
    ]
    for q in queries:
        want = o.top_k(q, k=30)
        for s in (Searcher(idx), Searcher(saved)):
            got = s.top_docs(q, k=30)
            assert [d for d, _ in got] == [d for d, _ in want], q
            for (d, sg), (_, sw) in zip(got, want):
                assert sg == pytest.approx(sw, rel=1e-9), (q, d)


def test_multi_phrase_union_superset_of_each_phrase(spark, corpus):
    """Doc set of batch (a|b) == union of the two concrete phrases."""
    idx, _ = corpus
    s = Searcher(idx)
    multi = set(s.matching_docids(
        MultiPhraseQuery.of("field", ["word1", ("word2", "word3")])
    ))
    a = set(s.matching_docids(PhraseQuery.of("field", ["word1", "word2"])))
    b = set(s.matching_docids(PhraseQuery.of("field", ["word1", "word3"])))
    assert multi == (a | b)
    assert a and b  # both concrete phrases occur in the fixture


def test_multi_phrase_single_slot_rewrites_to_term(spark, corpus):
    idx, _ = corpus
    q = MultiPhraseQuery.of("field", ["word2"], boost=1.5)
    r = rewrite(q)
    assert r == TermQuery("field", "word2", 1.5)
    s = Searcher(idx)
    assert s.top_docs(q, k=5) == s.top_docs(TermQuery("field", "word2", 1.5),
                                            k=5)


def test_multi_phrase_degenerate_and_absent(spark, corpus):
    idx, _ = corpus
    s = Searcher(idx)
    # absent alternative contributes nothing; all-absent slot kills it
    q = MultiPhraseQuery.of("field", ["word1", ("word2", "zzznone")])
    base = MultiPhraseQuery.of("field", ["word1", ("word2",)])
    assert s.matching_docids(q) == s.matching_docids(base)
    dead = MultiPhraseQuery.of("field", [("zzznone",), "word1"])
    assert s.top_docs(dead, k=10) == []


def test_phrase_prefix_matches_expanded_multi_phrase(spark, corpus):
    """phrase_prefix('quick bro') == multi-phrase with the bro*
    completions in the last slot."""
    idx, _ = corpus
    s = Searcher(idx)
    q = s.phrase_prefix("field", ["quick", "bro"])
    assert isinstance(q, MultiPhraseQuery)
    got = s.top_docs(q, k=None)
    comp = [t for t, _df in s.suggest("field", "bro", n=50)]
    want = s.top_docs(
        MultiPhraseQuery.of("field", [("quick",), tuple(sorted(comp))]),
        k=None,
    )
    assert got == want and len(got) > 0


def test_phrase_prefix_no_completions_matches_nothing(corpus):
    idx, _ = corpus
    s = Searcher(idx)
    q = s.phrase_prefix("field", ["quick", "zzz"])
    assert s.top_docs(q, k=None) == []
