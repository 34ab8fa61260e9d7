"""Searcher.explain — the reference's disabled explain-score surface
(explain methods are commented out throughout src/search/*.lisp and the
feature is off in montezuma.asd:76), rebuilt as a compiled-plan walk.
Root invariant: explain(q, d)["value"] == the served score for d."""

import pytest

from montezuma_spark.fixtures import search_docs_df
from montezuma_spark.index import FieldConfig, IndexConfig, build_index
from montezuma_spark.search import (
    MUST,
    MUST_NOT,
    SHOULD,
    FuzzyQuery,
    MatchAllQuery,
    MultiPhraseQuery,
    PhraseQuery,
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
    return build_index(spark, docs, cfg)


QUERIES = [
    TermQuery("field", "word2"),
    bool_query((TermQuery("field", "word1"), MUST),
               (TermQuery("field", "word2"), SHOULD),
               (TermQuery("field", "fox"), MUST_NOT)),
    bool_query((TermQuery("field", "word2"), SHOULD),
               (TermQuery("field", "word3"), SHOULD),
               coord_disabled=False),
    PhraseQuery.of("field", ["word1", "word3"]),
    MultiPhraseQuery.of("field", ["word1", ("word2", "word3")]),
    WildcardQuery("field", "word*"),
    FuzzyQuery("field", "word1", 0.7),
    bool_query((MatchAllQuery(), SHOULD), (TermQuery("field", "word2"), SHOULD)),
]


@pytest.mark.parametrize("tier", ["pushdown", "saved"])
def test_explain_value_equals_served_score(spark, corpus, saved_copy, tier):
    s = Searcher(saved_copy(corpus) if tier == "saved" else corpus)
    for q in QUERIES:
        hits = s.top_docs(q, k=None)
        assert hits, q
        for d, score in hits[:3]:
            tree = s.explain(q, d)
            assert tree["value"] == pytest.approx(score, rel=1e-9), (q, d)


def test_explain_term_details(spark, corpus):
    s = Searcher(corpus)
    tree = s.explain(TermQuery("field", "word2"), 4)  # doc 4 = "word1 word2"
    assert tree["type"] == "term"
    assert tree["matched"] and tree["tf"] == 1 and tree["dl"] == 2
    assert tree["value"] == pytest.approx(
        tree["idf"] * tree["boost"] * tree["doc_boost"] * tree["tf_norm"],
        rel=1e-9,
    )


def test_explain_classic_pipeline_shows_query_norm(spark):
    docs = search_docs_df(spark)
    cfg = IndexConfig(
        fields=[FieldConfig("field", "field", "whitespace")],
        key_col="url", shard_bits=2, similarity="classic",
    )
    idx = build_index(spark, docs, cfg)
    s = Searcher(idx)
    q = bool_query((TermQuery("field", "word2"), SHOULD),
                   (TermQuery("field", "word3"), SHOULD))
    hits = s.top_docs(q, k=3)
    tree = s.explain(q, hits[0][0])
    assert tree["type"] == "query_norm"
    assert tree["value"] == pytest.approx(hits[0][1], rel=1e-9)
    assert tree["details"][0]["type"] == "boolean"


def test_explain_non_matching_doc_is_zero(spark, corpus):
    s = Searcher(corpus)
    tree = s.explain(TermQuery("field", "word2"), 0)  # doc 0 = "word1"
    assert tree["value"] == 0.0 and not tree["matched"]
