"""Positional top-k: root phrase top-k (the exhaustive phrase eval)
against the oracle and under deletes, and the span-near docid-order early
exit (ShardEval._try_early_span), which must be rank- AND score-identical
to the exhaustive span eval — the positional analog of the block-max WAND
contract (tests/test_wand.py). The early exit and the exhaustive eval
share _span_intersect and _span_hits, so equality is exact, not
approximate."""

import pytest

import montezuma_spark.search.kernel as kmod
from montezuma_spark.fixtures import synth_web_pages_df
from montezuma_spark.index import FieldConfig, IndexConfig, build_index
from montezuma_spark.oracle import OracleIndex
from montezuma_spark.search import PhraseQuery, Searcher
from montezuma_spark.search.kernel import ShardEval


@pytest.fixture(autouse=True)
def _always_prune(monkeypatch):
    """Small synthetic corpora sit below the production df threshold
    (PRUNE_MIN_POSTINGS); pin the machinery on."""
    monkeypatch.setattr(kmod, "PRUNE_MIN_POSTINGS", 0)


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_web_pages_df(spark, 400)
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "whitespace")],
        key_col="url", shard_bits=3, block_size=8,
    )
    idx = build_index(spark, docs, cfg)
    o = OracleIndex()
    for i, (_u, t) in enumerate(
        sorted((r["url"], r["text"]) for r in docs.collect())
    ):
        o.add(i, {"text": (t, "whitespace")})
    return idx, o


QUERIES = [
    PhraseQuery.of("text", ["spark", "index"]),                      # exact
    PhraseQuery.of("text", ["spark", "index"], slop=4),              # sloppy
    PhraseQuery.of("text", ["query", "spark"], slop=8,
                   weight="reciprocal"),                        # 1/(1+d)
    PhraseQuery.of("text", ["spark", "index", "term"], slop=5),         # 3 terms
    PhraseQuery.of("text", ["spark", "spark"], slop=3),             # dup term
    PhraseQuery.of("text", ["spark", "index"], slop=2, boost=2.5),   # boosted
    PhraseQuery.of("text", ["spark", "zzzznope"]),                # empty df
]


def _rows(s, q, k):
    return [(d, sc) for d, sc in s.top_docs(q, k=k)]


def test_pruned_phrase_matches_oracle(spark, corpus):
    idx, o = corpus
    s = Searcher(idx)
    for q in QUERIES[:-1]:  # oracle has no entry for the unseen term
        want = o.top_k(q, k=7)
        got = _rows(s, q, 7)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_d, sg), (_, sw) in zip(got, want):
            assert sg == pytest.approx(sw, rel=1e-9), q


def test_pruned_phrase_respects_deletes(spark, corpus):
    idx, _ = corpus
    q = PhraseQuery.of("text", ["spark", "index"], slop=4)
    top = [d for d, _ in Searcher(idx).top_docs(q, k=3)]
    try:
        idx.delete_docs(top[:2])
        got = _rows(Searcher(idx), q, 7)
        assert got  # not vacuous
        assert not set(top[:2]) & {d for d, _ in got}
    finally:
        idx.undelete_all()


def test_k_none_never_prunes(spark, corpus):
    """matching-docs / k=None phrase evaluation returns every match, in
    the oracle's order."""
    idx, o = corpus
    q = PhraseQuery.of("text", ["spark", "index"], slop=4)
    got = Searcher(idx).top_docs(q, k=None)
    want = o.top_k(q, k=None)
    assert [d for d, _ in got] == [d for d, _ in want]


SPAN_QUERIES = None  # built lazily: SpanNearQuery import kept local


def _span_queries():
    from montezuma_spark.search import SpanNearQuery

    return [
        SpanNearQuery.of("text", ["spark", "index"], slop=3),
        SpanNearQuery.of("text", ["spark", "index"], slop=3,
                         in_order=True),
        SpanNearQuery.of("text", ["spark", "index", "term"], slop=6),
        SpanNearQuery.of("text", ["spark", "spark"], slop=4),  # dup term
        SpanNearQuery.of("text", ["spark", "index"], slop=8, first=30),
        SpanNearQuery.of("text", ["spark", "index"], slop=2, boost=3.0),
    ]


def test_early_span_identical_to_exhaustive(spark, corpus, monkeypatch):
    """Docid-order early exit for constant-score span-near: identical
    rows to the exhaustive span eval at every k, including span-first,
    in-order, duplicate-term and boosted forms."""
    idx, _ = corpus
    s = Searcher(idx)
    qs = _span_queries()
    for k in (3, 7):
        early = [_rows(s, q, k) for q in qs]
        with monkeypatch.context() as m:
            m.setattr(ShardEval, "_try_early_span",
                      lambda self, node: None)
            exact = [_rows(Searcher(idx), q, k) for q in qs]
        assert early == exact
        assert any(p for p in early)  # not vacuous


def test_early_span_matches_oracle(spark, corpus):
    idx, o = corpus
    s = Searcher(idx)
    for q in _span_queries():
        want = o.top_k(q, k=6)
        got = _rows(s, q, 6)
        assert got == [(d, pytest.approx(sc)) for d, sc in want], q


def test_early_span_k_none_exhaustive(spark, corpus):
    from montezuma_spark.search import SpanNearQuery

    idx, o = corpus
    q = SpanNearQuery.of("text", ["spark", "index"], slop=3)
    got = Searcher(idx).top_docs(q, k=None)
    assert [d for d, _ in got] == [d for d, _ in o.top_k(q, k=None)]


def test_k_zero_returns_empty_everywhere(spark, corpus):
    """k=0 (an empty page) must return no rows, never crash — the
    pruned paths' theta partition has no k-th element at k=0."""
    from montezuma_spark.search import SpanNearQuery, TermQuery, bool_query, SHOULD

    idx, _ = corpus
    s = Searcher(idx)
    for q in (PhraseQuery.of("text", ["spark", "index"], slop=4),
              PhraseQuery.of("text", ["spark", "index"]),
              SpanNearQuery.of("text", ["spark", "index"], slop=3),
              TermQuery("text", "spark"),
              bool_query((TermQuery("text", "spark"), SHOULD),
                         (TermQuery("text", "index"), SHOULD))):
        assert s.top_docs(q, k=0) == []


def test_early_span_negative_k_goes_exhaustive(spark, corpus):
    """A negative k must fall to the exhaustive span eval (the k<=0 guard
    every pruned/early path carries), never the docid-order early exit."""
    from montezuma_spark.search import SpanNearQuery

    idx, _ = corpus
    s = Searcher(idx)
    q = SpanNearQuery.of("text", ["spark", "index"], slop=3)
    for k in (-1, 0):
        plan, resolved, need_pos = s._compile(q, k)
        ev = ShardEval(plan, s._fetch_postings_pdf(resolved, need_pos))
        assert ev._try_early_span(resolved) is None
        got, want = ev.eval_top(resolved), ev.eval(resolved)
        assert len(want[0]) > 0  # not vacuous
        assert got[0].tolist() == want[0].tolist()
        assert got[1].tolist() == want[1].tolist()


def test_early_span_stops_before_last_chunk(spark, monkeypatch):
    """The early exit across more than one docid chunk: a span
    intersection larger than the first max(16k, 512)-doc chunk, where
    in-order matches start only past that chunk. Every k and shape must
    equal the exhaustive span eval, and the scan must stop before the
    last chunk."""
    from collections import Counter

    from montezuma_spark.search import SpanNearQuery

    fill = "x y z w v u t s"

    def text(i):
        # every doc holds both terms; only the listed residues seat a
        # window within slop 1, and in order only from doc 600 on
        pair = "alpha beta" if i >= 600 else "beta alpha"
        m = i % 50
        if m == 0:
            return f"{pair} {fill}"
        if m == 10:
            return f"{fill} {pair}"
        if m == 25:
            return f"beta alpha {fill}"
        return f"alpha {fill} beta"

    n = 1600
    docs = spark.createDataFrame(
        [(f"u{i:05d}", text(i)) for i in range(n)], ["url", "text"]
    )
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "whitespace")],
        key_col="url", shard_bits=2, block_size=8,
    )
    idx = build_index(spark, docs, cfg)
    s = Searcher(idx)
    qs = [
        SpanNearQuery.of("text", ["alpha", "beta"], slop=1),
        SpanNearQuery.of("text", ["alpha", "beta"], slop=1, in_order=True),
        SpanNearQuery.of("text", ["alpha", "beta"], slop=1, first=4),
    ]
    plan, resolved, need_pos = s._compile(qs[0], 7)
    ev = ShardEval(plan, s._fetch_postings_pdf(resolved, need_pos))
    n_docs = len(ev._span_intersect(resolved, Counter(resolved.terms), None)[0])
    assert n_docs == n > 512  # wider than the first chunk

    span_hits = ShardEval._span_hits
    chunks: list = []

    def spy(self, node, docs, mult, term_handles):
        chunks.append(len(docs))
        return span_hits(self, node, docs, mult, term_handles)

    most_chunks = 0
    for k in (1, 3, 7):
        for q in qs:
            chunks.clear()
            with monkeypatch.context() as m:
                m.setattr(ShardEval, "_span_hits", spy)
                early = _rows(Searcher(idx), q, k)
            assert chunks and sum(chunks) < n_docs, (q, k, chunks)
            most_chunks = max(most_chunks, len(chunks))
            with monkeypatch.context() as m:
                m.setattr(ShardEval, "_try_early_span",
                          lambda self, node: None)
                exact = _rows(Searcher(idx), q, k)
            assert early == exact and len(early) == k, (q, k)
    assert most_chunks >= 2  # the in-order scan ran past the first chunk
