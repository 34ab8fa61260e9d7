"""Batch query serving (Searcher.search_batch): N queries, one job.

Parity contract: for every query in the batch, the (docid, score) rows
must equal the single-query ``search`` path exactly — same compile, same
kernel math — including phrase (positions union scan), wildcard
(dictionary expansion) and the MatchAll fallback union.
"""

import re

import pytest

from montezuma_spark.fixtures import search_docs_df
from montezuma_spark.index import FieldConfig, IndexConfig, build_index
from montezuma_spark.search import (
    MUST,
    MUST_NOT,
    SHOULD,
    MatchAllQuery,
    PhraseQuery,
    Searcher,
    TermQuery,
    WildcardQuery,
    bool_query,
)

CFG = IndexConfig(
    fields=[
        FieldConfig("field", "field", "whitespace"),
        FieldConfig("cat", "cat", None, positions=False),
    ],
    shard_bits=3,
    block_size=4,
)


@pytest.fixture(scope="module")
def searcher(spark):
    return Searcher(build_index(spark, search_docs_df(spark), CFG))


BATCH = {
    "q_term": TermQuery("field", "word1"),
    "q_and": bool_query(
        (TermQuery("field", "word1"), MUST),
        (TermQuery("field", "word2"), MUST),
    ),
    "q_or": bool_query(
        (TermQuery("field", "word2"), SHOULD),
        (TermQuery("field", "word3"), SHOULD),
    ),
    "q_not": bool_query(
        (TermQuery("field", "word1"), MUST),
        (TermQuery("field", "word2"), MUST_NOT),
    ),
    "q_phrase": PhraseQuery.of("field", ["word1", "word2"]),
    "q_wild": WildcardQuery("cat", "cat1*"),
}


def _single(searcher, q, k):
    return [
        (r["docid"], round(r["score"], 9))
        for r in searcher.search(q, k=k).collect()
    ]


def _from_batch(rows, qid):
    return [
        (r["docid"], round(r["score"], 9)) for r in rows if r["qid"] == qid
    ]


def test_batch_matches_single_topk(searcher):
    rows = searcher.search_batch(BATCH, k=5).collect()
    for qid, q in BATCH.items():
        assert _from_batch(rows, qid) == _single(searcher, q, 5), qid


def test_batch_matches_single_all_matches(searcher):
    rows = searcher.search_batch(BATCH, k=None).collect()
    # k=None returns ALL matches; order within qid is not part of the
    # contract there, so compare as sets
    for qid, q in BATCH.items():
        assert set(_from_batch(rows, qid)) == set(_single(searcher, q, None)), qid


def test_batch_hot_tier_matches_distributed(spark, saved_copy):
    """A searcher over a saved copy answers the batch driver-side through
    the cell cache, cold and then hot (warm cache), with rows identical to
    the distributed kernel's — including a MatchAll the local tier refuses
    (routed to the distributed path)."""
    idx = build_index(spark, search_docs_df(spark), CFG)
    hot = Searcher(saved_copy(idx))
    batch = dict(BATCH)
    batch["q_all"] = MatchAllQuery()
    want = Searcher(idx, distributed=True).search_batch(batch, k=5).collect()
    key = lambda r: (r["qid"], -r["score"], r["docid"])  # noqa: E731
    for _ in ("cold", "warm"):
        got = hot.search_batch(batch, k=5).collect()
        assert [
            (r["qid"], r["docid"], r["score"]) for r in sorted(got, key=key)
        ] == [
            (r["qid"], r["docid"], r["score"]) for r in sorted(want, key=key)
        ]


def test_batch_with_matchall_fallback(searcher):
    batch = dict(BATCH)
    batch["q_all"] = MatchAllQuery()
    rows = searcher.search_batch(batch, k=4).collect()
    for qid, q in batch.items():
        assert _from_batch(rows, qid) == _single(searcher, q, 4), qid


def test_batch_row_order_and_schema(searcher):
    df = searcher.search_batch(BATCH, k=3)
    assert df.columns == ["qid", "docid", "key", "score"]
    rows = df.collect()
    keyed = [(r["qid"], -r["score"], r["docid"]) for r in rows]
    assert keyed == sorted(keyed)


def test_batch_with_tombstones_both_paths(spark, tmp_path, monkeypatch):
    """Deleted docs never surface from search_batch — via the broadcast
    delete array AND the massive-set cogroup fallback (forced by zeroing
    the broadcast cap), each compared against per-query search."""
    from montezuma_spark.fixtures import synth_web_pages_df
    from montezuma_spark.search import MUST, bool_query
    import montezuma_spark.search.searcher as searcher_mod

    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "simple")],
        shard_bits=5, block_size=16,
    )
    idx = build_index(
        spark, synth_web_pages_df(spark, 100), cfg,
        index_dir=str(tmp_path / "ix"),
    )
    s = Searcher(idx)
    victims = s.matching_docids(TermQuery("text", "merge"))[:3]
    idx.delete_docs(victims)
    batch = {
        "t": TermQuery("text", "merge"),
        "and": bool_query(
            (TermQuery("text", "merge"), MUST),
            (TermQuery("text", "spark"), MUST),
        ),
        "all": MatchAllQuery(),
    }
    for cap in (None, 0):  # broadcast path, then forced cogroup path
        if cap is not None:
            monkeypatch.setattr(searcher_mod, "TOMBSTONE_BROADCAST_MAX", cap)
            s = Searcher(idx)
        rows = s.search_batch(batch, k=20).collect()
        assert not set(victims) & {r["docid"] for r in rows}, cap
        for qid, q in batch.items():
            assert _from_batch(rows, qid) == _single(s, q, 20), (qid, cap)


def test_batch_on_boosted_index(spark):
    """An index with per-doc boosts forces the shard exchange even for
    single-term batches (boost marker cells must co-locate), and batch
    rows equal per-query search on every query shape."""
    from pyspark.sql import functions as F

    from montezuma_spark.fixtures import search_docs_df

    docs = search_docs_df(spark).withColumn(
        "boost", (F.col("docid_expected") + 1).cast("double")
    )
    cfg = IndexConfig(
        fields=[FieldConfig("field", "field", "whitespace")],
        key_col="url", shard_bits=2, boost_col="boost",
    )
    s = Searcher(build_index(spark, docs, cfg))
    batch = {
        "a": TermQuery("field", "word1"),
        "b": TermQuery("field", "word2"),
    }
    rows = s.search_batch(batch, k=6).collect()
    for qid, q in batch.items():
        assert _from_batch(rows, qid) == _single(s, q, 6), qid


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def saved_searcher(spark, tmp_path_factory):
    """SAVED index: the query plan starts at the parquet scan, so exchange
    / scan-count assertions see only the serving stage (an in-memory
    index's plan embeds the whole build lineage)."""
    from montezuma_spark.fixtures import synth_web_pages_df
    from montezuma_spark.index import Index

    d = str(tmp_path_factory.mktemp("batch") / "ix")
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "simple")], shard_bits=5
    )
    build_index(spark, synth_web_pages_df(spark, 150), cfg, index_dir=d)
    # cell cache OFF: these tests pin the DISTRIBUTED batch machinery's
    # plan shape; with the cache a small batch is served driver-side and
    # never builds a Spark plan (tests/test_cell_cache.py covers that)
    return Searcher(Index.load(spark, d), cell_cache_bytes=0)


def test_all_single_term_batch_skips_exchange(saved_searcher):
    """A batch of pure term queries is one job with NO shard exchange:
    each cell is self-contained, so the kernel runs on scan partitions."""
    batch = {
        "a": TermQuery("text", "merge"),
        "b": TermQuery("text", "spark"),
    }
    plan = _plan(saved_searcher.search_batch(batch, k=3))
    assert "REPARTITION_BY_NUM" not in plan, plan
    # ... and a batch containing a multi-term query DOES exchange on
    # shard, sized to the match estimate (one task at this corpus size,
    # rendered as SinglePartition), never the session shuffle width
    batch["c"] = bool_query(
        (TermQuery("text", "merge"), MUST), (TermQuery("text", "spark"), MUST)
    )
    plan2 = _plan(saved_searcher.search_batch(batch, k=3))
    assert "REPARTITION_BY_NUM" in plan2, plan2
    widths = re.findall(r"hashpartitioning\(shard#\d+L?, (\d+)\)", plan2)
    assert all(w == "1" for w in widths), plan2


def test_batch_scan_is_union_pruned(saved_searcher):
    """The single postings scan carries the UNION of the batch's terms as
    one pushed predicate — ONE MapInPandas over one pruned parquet scan,
    not one scan per query."""
    batch = {
        "a": TermQuery("text", "merge"),
        "b": TermQuery("text", "spark"),
    }
    df = saved_searcher.search_batch(batch, k=3)
    plan = _plan(df)
    # one kernel node: "(n) MapInPandas" appears once in the formatted
    # tree and once in the node-details section
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    # both terms reach the scan as pushed predicates
    assert "merge" in plan and "spark" in plan, plan
    # positions sidecar column-pruned away (no phrase in the batch)
    read = plan.split("ReadSchema")[1].splitlines()[0]
    assert "positions" not in read, read


def test_large_term_list_expr_pushdown(searcher, monkeypatch):
    """Large all-safe term lists render the dictionary/postings pushdown
    as ONE SQL IN expr (O(1) py4j calls) — results must be identical to
    the literal isin path, and any quote/backslash term must force the
    fallback (never escaped inside F.expr: the SQL parser strips unknown
    escapes silently)."""
    import montezuma_spark.search.searcher as S

    terms = [f"word{i}" for i in range(1, 4)] + [
        f"zzz{i:03d}" for i in range(40)
    ] + ["café", "中文", "naïve"]  # unicode rides expr too
    # literal path (threshold above list size)
    monkeypatch.setattr(S, "ISIN_EXPR_MIN", 10_000)
    dfs_lit = searcher._lookup_dfs([("field", t) for t in terms])
    searcher._df_cache.clear()
    # expr path (threshold 1 → always)
    monkeypatch.setattr(S, "ISIN_EXPR_MIN", 1)
    dfs_expr = searcher._lookup_dfs([("field", t) for t in terms])
    searcher._df_cache.clear()
    assert dfs_lit == dfs_expr
    assert dfs_lit[("field", "word1")] > 0  # present terms resolve
    assert dfs_lit[("field", "zzz000")] == 0  # absent terms resolve to 0

    # unsafe terms (quote / backslash / control) go through literal isin
    unsafe = ["o'brien", "back\\slash", "ctrl\x01char"] + terms
    pred = S._terms_predicate("term", unsafe)
    # literal-isin Column: its JVM repr mentions IN but was built via
    # Column.isin — the point is it must not raise and must resolve
    dfs_unsafe = searcher._lookup_dfs([("field", t) for t in unsafe])
    searcher._df_cache.clear()
    assert dfs_unsafe[("field", "o'brien")] == 0
    assert dfs_unsafe[("field", "word1")] == dfs_lit[("field", "word1")]


def test_batch_cached_tier_serves_positional_plans(spark, tmp_path):
    """Positional plans (phrase / sloppy / span-near) ride the budgeted
    cached driver tier on a saved layout: the whole phrase-heavy batch
    is served without touching the distributed machinery (sabotaged
    here), with rows identical to the forced-distributed kernel
    (round-4 verdict #6)."""
    from montezuma_spark.index import Index
    from montezuma_spark.search import SpanNearQuery

    d = str(tmp_path / "posbatch_ix")
    build_index(spark, search_docs_df(spark), CFG, index_dir=d)
    idx = Index.load(spark, d)

    batch = {
        "ph": PhraseQuery.of("field", ["word1", "word2"]),
        "sl": PhraseQuery.of("field", ["word1", "word3"], slop=4),
        "sp": SpanNearQuery.of("field", ["word2", "word3"], slop=3),
        "t": TermQuery("field", "fox"),
    }
    want = sorted(
        (r["qid"], r["docid"], round(r["score"], 9))
        for r in Searcher(idx, distributed=True)
        .search_batch(batch, k=5).collect()
    )
    cached = Searcher(idx)

    def _boom(*a, **kw):
        raise AssertionError("distributed machinery used for cached batch")

    cached._postings_for = _boom
    got = sorted(
        (r["qid"], r["docid"], round(r["score"], 9))
        for r in cached.search_batch(batch, k=5).collect()
    )
    assert got == want and got
    # and the cells (incl. positions variants) are now cache-resident:
    # a second batch still never schedules the kernel
    got2 = sorted(
        (r["qid"], r["docid"], round(r["score"], 9))
        for r in cached.search_batch(batch, k=5).collect()
    )
    assert got2 == want
