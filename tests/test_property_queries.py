"""Property-based query testing (hypothesis): random boolean/phrase/range/
wildcard trees over a synthetic corpus must match the single-process numpy
oracle rank- and score-identically — the generative analog of the
reference's M2K regression test (tests/unit/regression/tc-m2k.lisp:58-163),
with the oracle replacing "doesn't crash" by "is exactly right".

One index is built and saved once (Spark jobs are slow); hypothesis drives
QUERIES, which the default searcher over the saved copy answers driver-side
through its cell cache (wildcard/range/fuzzy expansion still runs one Spark
dictionary scan per distinct pattern).
"""

import os

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from montezuma_spark.analysis import get_analyzer
from montezuma_spark.fixtures import synth_web_pages_df, synth_web_pages_pdf
from montezuma_spark.index import FieldConfig, IndexConfig, build_index
from montezuma_spark.oracle import OracleIndex
from montezuma_spark.search import (
    FILTER,
    MUST,
    MUST_NOT,
    SHOULD,
    BooleanClause,
    BooleanQuery,
    ConstantScoreQuery,
    DocIdSetQuery,
    FuzzyQuery,
    MatchAllQuery,
    MultiPhraseQuery,
    PhraseQuery,
    RangeQuery,
    RegexpQuery,
    Searcher,
    SpanNearQuery,
    TermQuery,
    WildcardQuery,
)

N_DOCS = 80
# extended background sweeps: PROP_EXAMPLES=10 multiplies every example
# budget (default 1 keeps the CI suite fast)
_X = int(os.environ.get("PROP_EXAMPLES", "1"))


@pytest.fixture(scope="module")
def engine(spark, saved_copy):
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "simple")], shard_bits=4,
        block_size=8,
    )
    idx = build_index(spark, synth_web_pages_df(spark, N_DOCS), cfg)
    s = Searcher(saved_copy(idx))
    o = OracleIndex()
    pdf = synth_web_pages_pdf(N_DOCS).sort_values("url").reset_index(drop=True)
    for i, row in enumerate(pdf.itertuples(index=False)):
        o.add(i, {"text": (row.text, "simple")})
    # vocabulary to draw query terms from (mix of present + absent terms)
    an = get_analyzer("simple")
    vocab = sorted({t for txt in pdf["text"] for t in an.tokens(txt)})
    return s, o, vocab


def _terms(vocab):
    return st.sampled_from(vocab + ["zzz_absent", "qqq_nope"])


def _query_strategy(vocab, slop_weights=("count",)):
    terms = _terms(vocab)
    leaf = st.one_of(
        terms.map(lambda t: TermQuery("text", t)),
        st.tuples(
            terms, terms, st.integers(0, 3), st.sampled_from(slop_weights)
        ).map(
            lambda x: PhraseQuery.of(
                "text", [x[0], x[1]], slop=x[2], weight=x[3]
            )
        ),
        st.tuples(terms, terms).map(
            lambda x: RangeQuery(
                "text", min(x), max(x), True, True
            )
        ),
        terms.map(lambda t: WildcardQuery("text", t[:2] + "*")),
        st.tuples(terms, st.sampled_from([0.5, 0.7])).map(
            lambda x: FuzzyQuery("text", x[0], x[1])
        ),
        st.tuples(
            terms, terms, terms, st.integers(0, 2), st.sampled_from(slop_weights)
        ).map(
            lambda x: MultiPhraseQuery.of(
                "text", [x[0], (x[1], x[2])], slop=x[3], weight=x[4]
            )
        ),
        st.tuples(
            st.lists(terms, min_size=1, max_size=3),
            st.integers(0, 4),
            st.booleans(),
            st.sampled_from([None, 3, 10]),
        ).map(
            lambda x: SpanNearQuery.of(
                "text", x[0], slop=x[1], in_order=x[2], first=x[3]
            )
        ),
        # round-4 extensions: anchored regexp (alternation + prefix-class
        # forms in the Java/Python-agreeing subset) and constant-score
        # wrapping — both must rank/score identically to the oracle
        st.tuples(terms, terms).map(
            lambda x: RegexpQuery("text", f"{x[0]}|{x[1]}")
        ),
        terms.map(lambda t: RegexpQuery("text", t[:2] + "[a-z]*")),
        st.tuples(terms, st.sampled_from([0.5, 1.0, 2.5])).map(
            lambda x: ConstantScoreQuery(TermQuery("text", x[0]), x[1])
        ),
        st.just(MatchAllQuery()),
    )

    def bool_of(args):
        children, coord_disabled, msm = args
        occurs = [MUST, SHOULD, SHOULD, MUST_NOT, FILTER]
        clauses = tuple(
            BooleanClause(c, occurs[i % len(occurs)])
            for i, c in enumerate(children)
        )
        return BooleanQuery(
            clauses, coord_disabled=coord_disabled, min_should_match=msm
        )

    return st.recursive(
        leaf,
        lambda inner: st.one_of(
            st.tuples(
                st.lists(inner, min_size=1, max_size=4),
                st.booleans(),
                # msm > #SHOULD must yield the empty result on BOTH sides
                st.integers(0, 2),
            ).map(bool_of),
            inner.map(lambda c: ConstantScoreQuery(c, 1.5)),
        ),
        max_leaves=6,
    )


def _docidset_strategy(vocab):
    """Valid DocIdSetQuery shapes only (placement is compile-checked:
    root, FILTER beside a term-bearing restrictor, or MUST_NOT)."""
    terms = _terms(vocab)
    docsets = st.lists(
        st.integers(0, N_DOCS + 10), min_size=1, max_size=8
    ).map(lambda xs: tuple(sorted(set(xs))))
    return st.one_of(
        st.tuples(docsets, st.sampled_from([1.0, 1.5])).map(
            lambda x: DocIdSetQuery(x[0], boost=x[1])
        ),
        docsets.map(lambda ds: ConstantScoreQuery(DocIdSetQuery(ds), 2.0)),
        st.tuples(docsets, terms).map(
            lambda x: BooleanQuery((
                BooleanClause(TermQuery("text", x[1]), MUST),
                BooleanClause(DocIdSetQuery(x[0]), FILTER),
            ))
        ),
        st.tuples(docsets, terms).map(
            lambda x: BooleanQuery((
                BooleanClause(TermQuery("text", x[1]), SHOULD),
                BooleanClause(DocIdSetQuery(x[0]), MUST_NOT),
            ))
        ),
    )


def _full_strategy(vocab, slop_weights=("count",)):
    return st.one_of(
        _query_strategy(vocab, slop_weights), _docidset_strategy(vocab)
    )


@settings(
    max_examples=60 * _X,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_random_query_matches_oracle(engine, data):
    s, o, vocab = engine
    q = data.draw(_full_strategy(vocab))
    got = s.top_docs(q, k=N_DOCS)
    want = o.top_k(q, k=N_DOCS)
    assert [d for d, _ in got] == [d for d, _ in want], q
    np.testing.assert_allclose(
        [x for _, x in got], [x for _, x in want], rtol=1e-9, atol=1e-12
    )


@settings(
    max_examples=30 * _X,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_random_query_doc_sets(engine, data):
    s, o, vocab = engine
    q = data.draw(_full_strategy(vocab))
    assert s.matching_docids(q) == o.matching(q), q


@settings(
    max_examples=10 * _X,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_random_batch_matches_oracle(engine, data):
    """search_batch over random query trees (the distributed union-scan
    kernel, NOT the driver-local tier) returns each query's exact oracle
    top-k — the generative analog of the batch parity suite."""
    s, o, vocab = engine
    cold = Searcher(s.index, distributed=True)
    qs = data.draw(
        st.lists(_full_strategy(vocab), min_size=2, max_size=4)
    )
    batch = {f"q{i}": q for i, q in enumerate(qs)}
    rows = cold.search_batch(batch, k=10).collect()
    for qid, q in batch.items():
        got = [
            (r["docid"], r["score"]) for r in rows if r["qid"] == qid
        ]
        want = o.top_k(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], (qid, q)
        np.testing.assert_allclose(
            [x for _, x in got], [x for _, x in want],
            rtol=1e-9, atol=1e-12,
        )


@pytest.fixture(scope="module")
def engine_saved(spark, tmp_path_factory):
    """Saved layout → the DEFAULT serving tier (cell LRU cache + arrow
    point reads), the deployment path the other fixtures skip."""
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "simple")], shard_bits=4,
        block_size=8,
    )
    idx = build_index(spark, synth_web_pages_df(spark, N_DOCS), cfg)
    saved = idx.save(str(tmp_path_factory.mktemp("prop_saved")))
    o = OracleIndex()
    pdf = synth_web_pages_pdf(N_DOCS).sort_values("url").reset_index(drop=True)
    for i, row in enumerate(pdf.itertuples(index=False)):
        o.add(i, {"text": (row.text, "simple")})
    an = get_analyzer("simple")
    vocab = sorted({t for txt in pdf["text"] for t in an.tokens(txt)})
    return saved, o, vocab


@settings(
    max_examples=25 * _X,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_random_query_sequence_cached_tier(engine_saved, data):
    """Random query SEQUENCES against one cell-cache searcher: the cache
    invariants are order-dependent (snapshot-before-put, full-positions
    memos only after full decodes, LRU eviction mid-query), so state
    bugs only show when a warm query follows the right cold one. Tiny
    cache budgets force evictions inside a sequence."""
    saved, o, vocab = engine_saved
    cache_bytes = data.draw(
        st.sampled_from([1 << 10, 64 << 10, 256 << 20])
    )
    s = Searcher(saved, cell_cache_bytes=cache_bytes)
    qs = data.draw(st.lists(_full_strategy(vocab), min_size=2, max_size=5))
    for q in qs:
        got = s.top_docs(q, k=N_DOCS)
        want = o.top_k(q, k=N_DOCS)
        assert [d for d, _ in got] == [d for d, _ in want], (cache_bytes, q)
        np.testing.assert_allclose(
            [x for _, x in got], [x for _, x in want], rtol=1e-9, atol=1e-12
        )


@pytest.fixture(scope="module")
def engine_holes(spark, tmp_path_factory):
    """Expunged index (stable docids with holes) vs an oracle that never
    saw the expunged docs — every query shape must agree, including
    docid-set shapes naming the holes."""
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "simple")], shard_bits=4,
        block_size=8,
    )
    idx = build_index(
        spark, synth_web_pages_df(spark, N_DOCS), cfg,
        index_dir=str(tmp_path_factory.mktemp("prop_holes") / "ix"),
    )
    victims = sorted({0, 7, N_DOCS // 2, N_DOCS - 1})
    idx.delete_docs(victims)
    ex = idx.expunge_deletes()
    s = Searcher(ex)
    o = OracleIndex()
    pdf = synth_web_pages_pdf(N_DOCS).sort_values("url").reset_index(drop=True)
    for i, row in enumerate(pdf.itertuples(index=False)):
        if i in victims:
            continue
        o.add(i, {"text": (row.text, "simple")})
    an = get_analyzer("simple")
    vocab = sorted({t for txt in pdf["text"] for t in an.tokens(txt)})
    return s, o, vocab


@settings(
    max_examples=25 * _X,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_random_query_matches_oracle_expunged(engine_holes, data):
    s, o, vocab = engine_holes
    q = data.draw(_full_strategy(vocab))
    got = s.top_docs(q, k=N_DOCS)
    want = o.top_k(q, k=N_DOCS)
    assert [d for d, _ in got] == [d for d, _ in want], q
    np.testing.assert_allclose(
        [x for _, x in got], [x for _, x in want], rtol=1e-9, atol=1e-12
    )


@pytest.fixture(scope="module")
def engine_r2(spark, saved_copy):
    """Round-2 scoring surface: index-time per-doc boosts + classic
    similarity + reciprocal sloppy weighting, vs the extended oracle."""
    from pyspark.sql import functions as F

    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "simple")], shard_bits=4,
        block_size=8, similarity="classic", boost_col="boost",
    )
    docs = synth_web_pages_df(spark, N_DOCS).withColumn(
        "boost",
        (F.substring(F.col("url"), -1, 1).cast("int") % 5 + 1) / 2.0,
    )
    idx = build_index(spark, docs, cfg)
    s = Searcher(saved_copy(idx))
    o = OracleIndex(similarity="classic")
    pdf = synth_web_pages_pdf(N_DOCS).sort_values("url").reset_index(drop=True)
    for i, row in enumerate(pdf.itertuples(index=False)):
        o.add(i, {"text": (row.text, "simple")},
              boost=(int(row.url[-1]) % 5 + 1) / 2.0)
    an = get_analyzer("simple")
    vocab = sorted({t for txt in pdf["text"] for t in an.tokens(txt)})
    return s, o, vocab


@settings(
    max_examples=50 * _X,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_random_query_matches_oracle_boosted_classic(engine_r2, data):
    s, o, vocab = engine_r2
    q = data.draw(_full_strategy(vocab, slop_weights=("count", "reciprocal")))
    got = s.top_docs(q, k=N_DOCS)
    want = o.top_k(q, k=N_DOCS)
    assert [d for d, _ in got] == [d for d, _ in want], q
    np.testing.assert_allclose(
        [x for _, x in got], [x for _, x in want], rtol=1e-9, atol=1e-12
    )
