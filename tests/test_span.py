"""SpanNearQuery — positional proximity over unit-length term spans
(beyond-reference extension from the Lucene lineage; the reference has NO
span queries: montezuma.asd's component list carries no span files).
Constant-score semantics; engine kernels (anchored-window / greedy-chain)
are checked against the OracleIndex's brute-force selection enumeration —
two independent derivations of the same definition."""

import random

import pytest

from montezuma_spark.fixtures import search_docs_df
from montezuma_spark.index import FieldConfig, IndexConfig, build_index
from montezuma_spark.oracle import OracleIndex
from montezuma_spark.search import (
    MUST,
    SHOULD,
    Searcher,
    SpanNearQuery,
    TermQuery,
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


def _matching(searcher, q):
    pdf = searcher._execute(q, None).toPandas()
    return sorted(int(d) for d in pdf["docid"])


def test_span_near_matches_oracle_both_tiers(spark, corpus, saved_copy):
    idx, o = corpus
    saved = saved_copy(idx)
    queries = [
        SpanNearQuery.of("field", ["word1", "word2"], slop=0),
        SpanNearQuery.of("field", ["word1", "word2"], slop=2),
        SpanNearQuery.of("field", ["word2", "word1"], slop=2,
                         in_order=True),
        SpanNearQuery.of("field", ["word1", "word2"], slop=2,
                         in_order=True),
        SpanNearQuery.of("field", ["word1", "word2", "word3"], slop=4),
        SpanNearQuery.of("field", ["quick", "fox"], slop=1, in_order=True),
        SpanNearQuery.of("field", ["brown", "quick"], slop=1),
        # duplicate listed term: needs two DISTINCT tokens
        SpanNearQuery.of("field", ["word1", "word1"], slop=5),
        SpanNearQuery.of("field", ["word1"], slop=0),
        # span-first: all positions inside the doc prefix
        SpanNearQuery.of("field", ["word1"], first=1),
        SpanNearQuery.of("field", ["word1", "word2"], slop=3, first=3),
        SpanNearQuery.of("field", ["word1", "word2"], slop=3,
                         in_order=True, first=4),
    ]
    for q in queries:
        want = o.matching(q)
        for s in (Searcher(idx), Searcher(saved)):
            assert _matching(s, q) == want, q


def test_span_constant_score_and_boost(spark, corpus):
    idx, o = corpus
    q = SpanNearQuery.of("field", ["word1", "word2"], slop=3, boost=2.5)
    s = Searcher(idx)
    got = s.top_docs(q, k=20)
    assert got, "expected matches"
    assert all(sc == pytest.approx(2.5) for _, sc in got)
    assert [d for d, _ in got] == sorted(d for d, _ in got)  # docid tiebreak


def test_span_in_bool_tree(spark, corpus, saved_copy):
    """Span composes as a structural clause: MUST span restricts a scored
    term; scores equal the oracle's composition to 1e-9."""
    idx, o = corpus
    q = bool_query(
        (TermQuery("field", "word1"), MUST),
        (SpanNearQuery.of("field", ["word1", "word2"], slop=2), MUST),
        (TermQuery("field", "word3"), SHOULD),
    )
    want = o.top_k(q, k=20)
    for s in (Searcher(idx), Searcher(saved_copy(idx))):
        got = s.top_docs(q, k=20)
        assert [d for d, _ in got] == [d for d, _ in want]
        for (d, sg), (_, sw) in zip(got, want):
            assert sg == pytest.approx(sw, rel=1e-9), d


def test_span_explain_matches_served(spark, corpus):
    idx, _ = corpus
    s = Searcher(idx)
    q = SpanNearQuery.of("field", ["word1", "word2"], slop=3, boost=2.0)
    hits = s.top_docs(q, k=5)
    assert hits
    ex = s.explain(q, hits[0][0])
    assert ex["value"] == pytest.approx(hits[0][1], rel=1e-9)
    assert ex["type"] == "span_near"


def test_span_property_random_corpora(spark):
    """Generative: random tiny corpora + random span queries, engine
    (default tier) vs brute-force oracle."""
    rng = random.Random(0xC0FFEE)
    vocab = ["a", "b", "c", "d", "e"]
    for trial in range(4):
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 14)))
            for _ in range(12)
        ]
        docs = spark.createDataFrame(
            [(f"u{i}", t) for i, t in enumerate(texts)], "url string, field string"
        )
        cfg = IndexConfig(
            fields=[FieldConfig("field", "field", "whitespace")],
            key_col="url", shard_bits=1,
        )
        idx = build_index(spark, docs, cfg)
        o = OracleIndex()
        # docids are rank-of-url: "u10" < "u2" lexicographically
        ordered = sorted(range(len(texts)), key=lambda i: f"u{i}")
        for docid, i in enumerate(ordered):
            o.add(docid, {"field": (texts[i], "whitespace")})
        s = Searcher(idx)
        for _ in range(12):
            n = rng.randint(1, 3)
            q = SpanNearQuery.of(
                "field",
                [rng.choice(vocab) for _ in range(n)],
                slop=rng.randint(0, 4),
                in_order=rng.random() < 0.5,
                first=rng.choice([None, 2, 5, 9]),
            )
            assert _matching(s, q) == o.matching(q), (trial, q)
