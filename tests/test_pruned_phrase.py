"""Bound-ordered pruned phrase top-k (ShardEval._try_pruned_phrase)
must be rank- AND score-identical to the exhaustive phrase eval — the
positional analog of the block-max WAND contract (tests/test_wand.py).
The pruned and exhaustive paths share the decode, positions, freq and
scoring kernels with the same float association order, so equality is
exact, not approximate."""

import pytest
from pyspark.sql import functions as F  # noqa: F401

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


def test_pruned_phrase_identical_to_exhaustive(spark, corpus, monkeypatch):
    idx, _ = corpus
    s = Searcher(idx)
    pruned = [_rows(s, q, 7) for q in QUERIES]
    with monkeypatch.context() as m:
        m.setattr(ShardEval, "_try_pruned_phrase", lambda self, node: None)
        exact = [_rows(Searcher(idx), q, 7) for q in QUERIES]
    assert pruned == exact  # bit-identical (shared scoring kernels)
    assert any(p for p in pruned)  # and not vacuous


def test_pruned_phrase_matches_oracle(spark, corpus):
    idx, o = corpus
    s = Searcher(idx)
    for q in QUERIES[:-1]:  # oracle has no entry for the unseen term
        want = o.top_k(q, k=7)
        got = _rows(s, q, 7)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_d, sg), (_, sw) in zip(got, want):
            assert sg == pytest.approx(sw, rel=1e-9), q


def test_pruned_phrase_respects_deletes(spark, corpus, monkeypatch):
    idx, _ = corpus
    q = PhraseQuery.of("text", ["spark", "index"], slop=4)
    top = [d for d, _ in Searcher(idx).top_docs(q, k=3)]
    try:
        idx.delete_docs(top[:2])
        pruned = _rows(Searcher(idx), q, 7)
        assert not set(top[:2]) & {d for d, _ in pruned}
        with monkeypatch.context() as m:
            m.setattr(
                ShardEval, "_try_pruned_phrase", lambda self, node: None
            )
            exact = _rows(Searcher(idx), q, 7)
        assert pruned == exact
    finally:
        idx.undelete_all()


def test_pruned_phrase_with_doc_boosts(spark, monkeypatch):
    """Per-doc index-time boosts enter the BOUND exactly (not via a max
    factor), so boosted corpora stay rank-identical too."""
    docs = synth_web_pages_df(spark, 200).withColumn(
        "b", (F.crc32(F.col("url")) % 5 + 1).cast("double")
    )
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "whitespace")],
        key_col="url", shard_bits=2, block_size=8, boost_col="b",
    )
    idx = build_index(spark, docs, cfg)
    s = Searcher(idx)
    for q in (PhraseQuery.of("text", ["spark", "index"]),
              PhraseQuery.of("text", ["spark", "index"], slop=6)):
        pruned = _rows(s, q, 5)
        with monkeypatch.context() as m:
            m.setattr(
                ShardEval, "_try_pruned_phrase", lambda self, node: None
            )
            exact = _rows(Searcher(idx), q, 5)
        assert pruned == exact and pruned


def test_k_none_never_prunes(spark, corpus):
    """matching-docs / k=None evaluation must stay exhaustive — the
    pruned path only exists under a top-k plan."""
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
