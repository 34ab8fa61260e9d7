"""Search options: FILTER clauses, sort-by-stored-field, stored fields,
get_document, each_hit, searcher over a saved copy (cell-cache tier)."""

import pytest

from montezuma_spark.fixtures import search_docs_df
from montezuma_spark.index import FieldConfig, IndexConfig, build_index
from montezuma_spark.oracle import OracleIndex
from montezuma_spark.search import (
    MUST,
    SHOULD,
    BooleanClause,
    BooleanQuery,
    RangeQuery,
    Searcher,
    TermQuery,
    WildcardQuery,
)
from montezuma_spark.search.ast import FILTER
from montezuma_spark.fixtures import SEARCH_DOCS

CFG = IndexConfig(
    fields=[
        FieldConfig("field", "field", "whitespace"),
        FieldConfig("date", "date", None, positions=False),
        FieldConfig("cat", "cat", None, positions=False),
    ],
    key_col="url",
    shard_bits=3,
    block_size=4,
    store_cols=("date", "cat"),
)


@pytest.fixture(scope="module")
def searcher(spark):
    return Searcher(build_index(spark, search_docs_df(spark), CFG))


@pytest.fixture(scope="module")
def hot_searcher(spark, saved_copy):
    return Searcher(saved_copy(build_index(spark, search_docs_df(spark), CFG)))


def test_filter_restricts_without_scoring(searcher):
    # word1 scored, filtered to cat1* docs — scores must equal plain word1
    plain = dict(searcher.top_docs(TermQuery("field", "word1"), k=18))
    q = BooleanQuery(
        (
            BooleanClause(TermQuery("field", "word1"), MUST),
            BooleanClause(WildcardQuery("cat", "cat1*"), FILTER),
        )
    )
    got = searcher.top_docs(q, k=18)
    assert sorted(d for d, _ in got) == [0, 1, 2, 3, 4, 13, 14, 15, 16, 17]
    for d, s in got:
        assert s == pytest.approx(plain[d], rel=1e-12)


def test_filter_only_is_constant_score(searcher):
    q = BooleanQuery(
        (BooleanClause(RangeQuery("date", "20051006", "20051010"), FILTER),)
    )
    got = searcher.top_docs(q, k=18)
    assert sorted(d for d, _ in got) == [6, 7, 8, 9, 10]
    assert all(s == 0.0 for _, s in got)


def test_filter_matches_oracle(searcher):
    o = OracleIndex()
    for i, (date, field, cat) in enumerate(SEARCH_DOCS):
        o.add(i, {"field": (field, "whitespace"), "date": (date, None),
                  "cat": (cat, None)})
    q = BooleanQuery(
        (
            BooleanClause(TermQuery("field", "word3"), MUST),
            BooleanClause(TermQuery("field", "word2"), SHOULD),
            BooleanClause(WildcardQuery("cat", "cat1*"), FILTER),
        )
    )
    got = searcher.top_docs(q, k=10)
    want = o.top_k(q, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, rel=1e-9)


def test_sort_by_stored_field(searcher):
    rows = searcher.search_sorted(
        TermQuery("field", "word3"), k=3, sort_by=[("date", True)]
    ).collect()
    # word3 docs: 2,3,6,8,11,14 — by date desc → 14 (20051014), 11, 8
    assert [r["docid"] for r in rows] == [14, 11, 8]
    assert rows[0]["date"] == "20051014"


def test_get_document(searcher):
    d = searcher.get_document(8)
    assert d["key"] == "test://search-docs/0008"
    assert d["date"] == "20051008"
    assert d["cat"] == "cat2/sub1"


def test_facet_counts(searcher):
    """Per-value match counts over a stored column: counts must equal a
    brute-force count over the golden corpus, on both serving tiers."""
    from collections import Counter

    q = TermQuery("field", "word3")
    matched = searcher.matching_docids(q)
    want = Counter(SEARCH_DOCS[d][2] for d in matched)
    got = {
        (r["cat"],): r["count"]
        for r in searcher.facet_counts(q, "cat").collect()
    }
    assert got == {(c,): n for c, n in want.items()}
    # multi-column facet + distributed tier parity
    dist = Searcher(searcher.index, distributed=True)
    got2 = {
        (r["cat"], r["date"]): r["count"]
        for r in dist.facet_counts(q, ["cat", "date"]).collect()
    }
    want2 = Counter(
        (SEARCH_DOCS[d][2], SEARCH_DOCS[d][0]) for d in matched
    )
    assert got2 == dict(want2)


def test_more_like_this(searcher):
    """MLT == a hand-built SHOULD tree over the doc's top tf·idf terms,
    with the source doc excluded."""
    import math
    from collections import Counter

    src = 4
    toks = SEARCH_DOCS[src][1].split()
    tfs = Counter(toks)
    n = len(SEARCH_DOCS)
    dfs = {
        t: sum(1 for _, f, _ in SEARCH_DOCS if t in f.split())
        for t in tfs
    }
    idf = lambda df: math.log(1.0 + (n - df + 0.5) / (df + 0.5))  # noqa: E731
    ranked = sorted(tfs, key=lambda t: (-tfs[t] * idf(dfs[t]), t))
    for m in (2, 10):
        q = BooleanQuery(
            tuple(
                BooleanClause(TermQuery("field", t), SHOULD)
                for t in ranked[:m]
            )
        )
        all_rows = sorted(
            (
                (r["docid"], round(r["score"], 9))
                for r in searcher.search(q, k=None).collect()
                if r["docid"] != src
            ),
            key=lambda r: (-r[1], r[0]),
        )
        want = all_rows[:5]
        got = [
            (r["docid"], round(r["score"], 9))
            for r in searcher.more_like_this(src, max_terms=m, k=5).collect()
        ]
        assert got == want, m
        assert all(d != src for d, _ in got)


def test_suggest_prefix_topn(searcher, hot_searcher):
    """Prefix autocomplete: (df desc, term asc) over dictionary pushdown;
    hot and cold tiers must agree."""
    from collections import Counter

    want = Counter()
    for _, field, _ in SEARCH_DOCS:
        for t in set(field.split()):
            if t.startswith("word"):
                want[t] += 1
    expect = sorted(want.items(), key=lambda r: (-r[1], r[0]))
    got = searcher.suggest("field", "word", n=10)
    assert got == expect
    assert hot_searcher.suggest("field", "word", n=10) == expect
    assert searcher.suggest("field", "zzz", n=3) == []
    assert searcher.suggest("field", "word", n=1) == expect[:1]


def test_each_hit(searcher):
    hits = dict(searcher.each_hit(TermQuery("field", "word2")))
    assert sorted(hits) == [1, 4, 8]
    assert all(s > 0 for s in hits.values())


def test_hot_searcher_matches_cold(searcher, hot_searcher):
    q = BooleanQuery(
        (
            BooleanClause(TermQuery("field", "word1"), MUST),
            BooleanClause(TermQuery("field", "word3"), MUST),
        )
    )
    assert hot_searcher.top_docs(q, k=10) == searcher.top_docs(q, k=10)
    assert hot_searcher.matching_docids(q) == searcher.matching_docids(q)
    # phrase through the hot path too (positions in cached cells)
    from montezuma_spark.search import PhraseQuery

    p = PhraseQuery.of("field", ["quick", "brown"])
    assert hot_searcher.matching_docids(p) == [1]


def test_get_document_multivalue_concat(spark):
    """Multi-valued stored fields concatenate with a single space at
    fetch time (document-values, src/document/document.lisp:85-91);
    join_multi=False returns the stored array (document-fields)."""
    rows = [
        ("u://0", "alpha beta", ["tag one", "tag two", None]),
        ("u://1", "gamma", ["solo"]),
    ]
    df = spark.createDataFrame(rows, "url string, field string, tags array<string>")
    cfg = IndexConfig(
        fields=[FieldConfig("field", "field", "whitespace")],
        key_col="url", shard_bits=2, block_size=4, store_cols=("tags",),
    )
    s = Searcher(build_index(spark, df, cfg))
    d = s.get_document(0)
    assert d["tags"] == "tag one tag two "   # None renders empty, like ~A nil-safe join
    assert s.get_document(0, join_multi=False)["tags"] == ["tag one", "tag two", None]
    assert s.get_document(1)["tags"] == "solo"


def test_search_collapse_matches_bruteforce(searcher):
    """Field collapsing: best (score desc, docid asc) hit per stored cat
    value, top-k winners — vs a python argmax over the exhaustive hits."""
    q = TermQuery("field", "word1")
    hits = dict(searcher.top_docs(q, k=18))
    best: dict = {}
    for d, s in hits.items():
        c = SEARCH_DOCS[d][2]
        if c not in best or (s, -d) > (best[c][1], -best[c][0]):
            best[c] = (d, s)
    exp = sorted(
        ((c, d, s) for c, (d, s) in best.items()),
        key=lambda r: (-r[2], r[1]),
    )[:10]
    got = [
        (r["cat"], r["docid"], r["score"])
        for r in searcher.search_collapse(q, "cat", k=10).collect()
    ]
    assert [(c, d) for c, d, _ in got] == [(c, d) for c, d, _ in exp]
    for (_, _, gs), (_, _, es) in zip(got, exp):
        assert gs == pytest.approx(es, rel=1e-9)


def test_search_collapse_distributed_parity(spark):
    """The distributed acquisition branch (matched = _execute(query, None))
    must return the same winners as the driver-local branch — guards the
    groupBy argmax against a future _execute emitting per-shard partial
    rows per docid (review finding: the branch was otherwise untested)."""
    idx = build_index(spark, search_docs_df(spark), CFG)
    q = TermQuery("field", "word1")
    loc = Searcher(idx).search_collapse(q, "cat", k=10).collect()
    dist = Searcher(idx, distributed=True).search_collapse(q, "cat", k=10).collect()
    assert [(r["cat"], r["docid"]) for r in dist] == [
        (r["cat"], r["docid"]) for r in loc
    ]
    for a, b in zip(dist, loc):
        assert a["score"] == pytest.approx(b["score"], rel=1e-9)
