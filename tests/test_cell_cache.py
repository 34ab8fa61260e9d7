"""Saved-layout cell LRU cache (Searcher.cell_cache_bytes): warm queries
must be row-identical to cold ones, skip the arrow point read, respect
the byte budget, and stay correct under deletes (tombstones mask after
decode, so cached cells never go stale)."""

import pytest

from montezuma_spark.fixtures import search_docs_df
from montezuma_spark.index import FieldConfig, Index, IndexConfig, build_index
from montezuma_spark.search import (
    MUST,
    MultiPhraseQuery,
    PhraseQuery,
    Searcher,
    SpanNearQuery,
    TermQuery,
    bool_query,
)

CFG = IndexConfig(
    fields=[FieldConfig("field", "field", "whitespace")],
    key_col="url",
    shard_bits=3,
    block_size=4,
)


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cellcache") / "ix")
    build_index(spark, search_docs_df(spark), CFG).save(d)
    return Index.load(spark, d)


def _rows(s, q, k=10):
    return [(h[0], round(h[1], 9)) for h in s.top_docs(q, k=k)]


def test_warm_equals_cold_and_skips_fetch(saved):
    s = Searcher(saved)
    q = TermQuery("field", "word2")
    cold = _rows(s, q)
    fetches = s._arrow_fetches
    assert fetches >= 1
    warm = _rows(s, q)
    assert warm == cold
    assert s._arrow_fetches == fetches  # no new point read
    # uncached-searcher parity
    assert _rows(Searcher(saved, cell_cache_bytes=0), q) == cold


def test_phrase_after_term_upgrades_positions(saved):
    s = Searcher(saved)
    t = TermQuery("field", "word1")
    p = PhraseQuery.of("field", ["word1", "word2"])
    rt = _rows(s, t)
    rp = _rows(s, p)  # needs positions: separate cache entry, not the
    # positions-free rows fetched for the bare term
    s2 = Searcher(saved, cell_cache_bytes=0)
    assert rt == _rows(s2, t)
    assert rp == _rows(s2, p)
    # and warm repeats stay identical
    assert _rows(s, p) == rp and _rows(s, t) == rt


def test_eviction_keeps_results_correct(saved):
    s = Searcher(saved, cell_cache_bytes=600)  # a few hundred bytes: evicts
    qs = [
        TermQuery("field", "word1"),
        TermQuery("field", "word2"),
        bool_query(
            (TermQuery("field", "word1"), MUST),
            (TermQuery("field", "word3"), MUST),
        ),
    ]
    ref = Searcher(saved, cell_cache_bytes=0)
    for _ in range(2):
        for q in qs:
            assert _rows(s, q) == _rows(ref, q)
    assert s._cell_cache_size <= max(600, max(v[1] for v in s._cell_cache.values()))


def test_missing_term_negative_entry(saved):
    s = Searcher(saved)
    q = TermQuery("field", "zzz_not_a_term")
    assert _rows(s, q) == []
    fetches = s._arrow_fetches
    assert _rows(s, q) == []
    assert s._arrow_fetches == fetches  # absent terms never refetch


def test_deletes_apply_over_cached_cells(saved, spark):
    s = Searcher(saved)
    q = TermQuery("field", "word2")
    cold = _rows(s, q)
    assert cold
    victim = cold[0][0]
    try:
        saved.delete_docs([victim])
        warm = _rows(s, q)
        assert victim not in [d for d, _ in warm]
        assert warm == [(d, sc) for d, sc in cold if d != victim]
    finally:
        saved.undelete_all()
    assert _rows(s, q) == cold


def test_batch_serves_driver_side_through_cache(saved):
    """Eligible batch queries are answered with eval_local over cached
    rows (zero Spark kernel jobs) and must be row-identical to the
    distributed batch; MatchAll stays in the fallback union."""
    from montezuma_spark.search import MatchAllQuery, WildcardQuery

    batch = {
        "t": TermQuery("field", "word1"),
        "p": PhraseQuery.of("field", ["word1", "word2"]),
        "b": bool_query(
            (TermQuery("field", "word2"), MUST),
            (TermQuery("field", "word3"), MUST),
        ),
        "w": WildcardQuery("field", "word*"),
        "m": MatchAllQuery(),
    }
    s = Searcher(saved)
    got = [
        (r["qid"], r["docid"], round(r["score"], 9))
        for r in s.search_batch(batch, k=5).collect()
    ]
    want = [
        (r["qid"], r["docid"], round(r["score"], 9))
        for r in Searcher(saved, distributed=True)
        .search_batch(batch, k=5).collect()
    ]
    assert sorted(got) == sorted(want)
    # per-query parity with single search on the same cached searcher
    for qid, q in batch.items():
        single = [(h[0], round(h[1], 9)) for h in s.top_docs(q, k=5)]
        from_batch = sorted(
            [(d, sc) for g, d, sc in got if g == qid],
            key=lambda x: (-x[1], x[0]),
        )
        assert from_batch == single, qid


def test_cached_tier_takes_larger_terms_locally(saved, monkeypatch):
    """Above FAST_PATH_MAX_POSTINGS but under CACHED_PATH_MAX_POSTINGS the
    cached saved-layout tier still answers locally; the uncached searcher
    falls back to the distributed path. Rows must agree."""
    import montezuma_spark.search.searcher as smod

    monkeypatch.setattr(smod, "FAST_PATH_MAX_POSTINGS", 1)
    q = TermQuery("field", "word2")
    s = Searcher(saved)
    assert s._execute_local(q, 10) is not None  # wide gate: local
    s0 = Searcher(saved, cell_cache_bytes=0)
    assert s0._execute_local(q, 10) is None  # narrow gate: distributed
    assert _rows(s, q) == _rows(s0, q)
    monkeypatch.setattr(smod, "CACHED_PATH_MAX_POSTINGS", 1)
    s2 = Searcher(saved)
    assert s2._execute_local(q, 10) is None  # over both gates
    assert _rows(s2, q) == _rows(s, q)


@pytest.fixture(scope="module")
def multi_shard(spark, tmp_path_factory):
    """Saved 96-doc index over 6 shards and 3 build partitions, so each
    term spans several cells (shards straddling a partition edge hold two
    cells) of several 4-posting blocks. Every doc contains "alpha beta",
    so phrases anchored on it want every doc and decode every block."""
    import random

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    rows = []
    for i in range(96):
        toks = [rng.choice(vocab) for _ in range(rng.randint(3, 12))]
        at = rng.randint(0, len(toks))
        toks[at:at] = ["alpha", "beta"]
        rows.append((f"u://{i:03d}", " ".join(toks)))
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "whitespace")],
        key_col="url", shard_bits=4, block_size=4, num_partitions=3,
    )
    d = str(tmp_path_factory.mktemp("cellcache_shapes") / "ix")
    docs = spark.createDataFrame(rows, "url string, text string")
    build_index(spark, docs, cfg, index_dir=d)
    return Index.load(spark, d)


# (query, every doc wanted → the cold call memoizes full positions)
SHAPES = {
    "phrase_all_cells": (PhraseQuery.of("text", ["alpha", "beta"]), True),
    "phrase_3": (PhraseQuery.of("text", ["alpha", "beta", "gamma"]), False),
    "multi_phrase_one_alt": (
        MultiPhraseQuery.of("text", ["alpha", ("beta", "gamma")]), True,
    ),
    "multi_phrase_several_alts": (
        MultiPhraseQuery.of(
            "text", [("alpha", "delta"), ("beta", "gamma"), "eps"], slop=1,
        ),
        False,
    ),
    "sloppy_phrase": (
        PhraseQuery.of("text", ["alpha", "gamma"], slop=3), False,
    ),
    "span_near": (
        SpanNearQuery.of("text", ["beta", "delta", "gamma"], slop=3), False,
    ),
    "span_near_ordered": (
        SpanNearQuery.of("text", ["alpha", "eps"], slop=2, in_order=True),
        False,
    ),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_positional_shapes_cold_warm_uncached_distributed(multi_shard, shape):
    """The positional kernel paths on the cell-cache tier: cold, warm (the
    second call reuses the cached CellRows and their full_pos memos),
    uncached and distributed answers are bit-identical, docids and float
    scores alike."""
    from collections import Counter

    q, memo = SHAPES[shape]
    uncached = Searcher(multi_shard, cell_cache_bytes=0)
    dist = Searcher(multi_shard, distributed=True)
    for k in (5, None):
        s = Searcher(multi_shard)
        cold = s.top_docs(q, k=k)
        assert cold, (shape, k)
        rows = [r for ent in s._cell_cache.values() for r in ent[0]]
        assert min(Counter(r.term for r in rows).values()) > 1  # multi-cell
        if memo and k is None:
            assert any(r.full_pos is not None for r in rows), shape
        fetches = s._arrow_fetches
        warm = s.top_docs(q, k=k)
        assert s._arrow_fetches == fetches  # served from the cache
        assert warm == cold, (shape, k)
        assert uncached.top_docs(q, k=k) == cold, (shape, k)
        assert dist.top_docs(q, k=k) == cold, (shape, k)
