"""Deletions: tombstones, query-time exclusion, delete-docs-with-term,
update-by-key, expunge compaction (reference: index-reader.lisp:129-153
delete/undelete, segment-merge-info.lisp:27-40 merge compaction,
index.lisp:266-328 update = delete + re-add)."""

import numpy as np
import pytest

from montezuma_spark.fixtures import synth_web_pages_df, synth_web_pages_pdf
from montezuma_spark.index import FieldConfig, IndexConfig, build_index
from montezuma_spark.oracle import OracleIndex
from montezuma_spark.search import (
    MUST,
    SHOULD,
    MatchAllQuery,
    PhraseQuery,
    Searcher,
    TermQuery,
    bool_query,
)
from montezuma_spark.streaming import IncrementalIndexer

CFG = IndexConfig(
    fields=[FieldConfig("text", "text", "simple")], shard_bits=5, block_size=16
)
N = 100


@pytest.fixture()
def idx(spark, tmp_path):
    docs = synth_web_pages_df(spark, N)
    return build_index(spark, docs, CFG, index_dir=str(tmp_path / "ix"))


def test_delete_excludes_from_all_query_shapes(spark, idx):
    s = Searcher(idx)
    base = s.matching_docids(TermQuery("text", "merge"))
    assert len(base) >= 3
    victims = base[:2]
    idx.delete_docs(victims)
    after = s.matching_docids(TermQuery("text", "merge"))
    assert after == [d for d in base if d not in victims]
    # boolean
    q = bool_query(
        (TermQuery("text", "merge"), SHOULD), (TermQuery("text", "spark"), SHOULD)
    )
    assert not set(victims) & set(s.matching_docids(q))
    # match-all
    assert len(s.matching_docids(MatchAllQuery())) == N - 2
    # phrase never returns a deleted doc
    ph = s.matching_docids(PhraseQuery.of("text", ["batch", "batch"]))
    assert not set(victims) & set(ph)
    # top-k never surfaces them either
    top = s.top_docs(TermQuery("text", "merge"), k=N)
    assert not set(victims) & {d for d, _ in top}


def test_tombstone_table_path_matches_broadcast(spark, idx, monkeypatch):
    """Massive-delete-set path: tombstones delivered as a shard-cogrouped
    TABLE (never shipped inside the plan) must answer identically to the
    plan-broadcast array on every query shape, including per-shard top-k
    (masking happens before truncation on both paths)."""
    from montezuma_spark.search import searcher as searcher_mod

    idx.delete_docs(list(range(0, N, 3)))
    queries = [
        TermQuery("text", "spark"),
        bool_query((TermQuery("text", "spark"), SHOULD),
                   (TermQuery("text", "merge"), SHOULD)),
        PhraseQuery.of("text", ["spark", "merge"], slop=2),
    ]
    want = [
        Searcher(idx, distributed=True).top_docs(q, k=7) for q in queries
    ]
    # force the table path (threshold 0 → any tombstone set is "massive")
    monkeypatch.setattr(searcher_mod, "TOMBSTONE_BROADCAST_MAX", 0)
    s = Searcher(idx, distributed=True)
    for q, w in zip(queries, want):
        got = s.top_docs(q, k=7)
        assert got == w, q
        assert all(d % 3 != 0 for d, _ in got)
    # the table path is active (threshold 0) — tombstones exist as a table
    assert s._tombstones_df() is not None
    # MatchAll ALSO goes through the table (tombstones ride the doc_lens
    # cogroup as marker rows): the shipped plan must carry NO delete array
    import montezuma_spark.search.kernel as kernel_mod

    seen_plans = []
    orig = kernel_mod.make_kernel

    def spy(plan):
        seen_plans.append(plan)
        return orig(plan)

    monkeypatch.setattr(searcher_mod, "make_kernel", spy)
    assert sorted(
        d for d, _ in s.top_docs(MatchAllQuery(), k=None)
    ) == [d for d in range(N) if d % 3 != 0]
    assert seen_plans and all(p.deleted is None for p in seen_plans)
    # boolean containing MatchAll: deleted docs stay excluded even when a
    # SHOULD term clause matches them (postings-side masking still applies)
    q = bool_query((MatchAllQuery(), SHOULD), (TermQuery("text", "merge"), SHOULD))
    got = s.top_docs(q, k=None)
    assert sorted(d for d, _ in got) == [d for d in range(N) if d % 3 != 0]
    assert seen_plans and all(p.deleted is None for p in seen_plans)


def test_tombstone_cache_invalidated_on_new_deletes(spark, idx, monkeypatch):
    """A reused Searcher must see deletes made AFTER its first query on the
    cogrouped-table path (round-2 advice: the cached _tomb_df went stale)."""
    from montezuma_spark.search import searcher as searcher_mod

    monkeypatch.setattr(searcher_mod, "TOMBSTONE_BROADCAST_MAX", 0)
    s = Searcher(idx, distributed=True)
    idx.delete_docs([0, 1])
    q = TermQuery("text", "merge")
    first = s.top_docs(q, k=N)
    assert not {0, 1} & {d for d, _ in first}
    survivors = [d for d, _ in first]
    assert survivors, "need a surviving match to delete"
    idx.delete_docs(survivors[:1])
    second = s.top_docs(q, k=N)
    assert survivors[0] not in {d for d, _ in second}
    assert {d for d, _ in second} == set(survivors[1:])


def test_delete_persists_and_undelete(spark, idx):
    from montezuma_spark.index.builder import Index

    s = Searcher(idx)
    base = s.matching_docids(TermQuery("text", "vector"))
    idx.delete_docs(base[:1])
    # reload from disk → tombstones survive
    re = Index.load(spark, idx.index_dir)
    assert list(re.tombstones) == base[:1]
    assert Searcher(re).matching_docids(TermQuery("text", "vector")) == base[1:]
    re.undelete_all()
    assert Searcher(re).matching_docids(TermQuery("text", "vector")) == base


def test_delete_docs_with_term_and_num_docs(spark, idx):
    s = Searcher(idx)
    n = len(s.matching_docids(TermQuery("text", "window")))
    assert n > 0
    deleted = s.delete_docs_with_term("text", "window")
    assert deleted == n
    assert s.matching_docids(TermQuery("text", "window")) == []
    assert idx.num_docs() == N - n
    assert idx.has_deletions()


def test_expunge_matches_fresh_build(spark, idx, tmp_path):
    """Post-expunge scores == a fresh oracle over the surviving docs with
    the SAME docids and the post-delete avgdl/N."""
    s = Searcher(idx)
    victims = s.matching_docids(TermQuery("text", "merge"))[:3]
    idx.delete_docs(victims)
    ex = idx.expunge_deletes()
    assert not ex.has_deletions()
    # stats refreshed
    assert ex.stats["text"]["num_docs"] == N - 3
    se = Searcher(ex)
    # oracle over survivors, same docids (stable across expunge)
    pdf = synth_web_pages_pdf(N).sort_values("url").reset_index(drop=True)
    o = OracleIndex()
    for docid, row in enumerate(pdf.itertuples(index=False)):
        if docid in victims:
            continue
        o.add(docid, {"text": (row.text, "simple")})
    for term in ("merge", "spark", "vector"):
        got = se.top_docs(TermQuery("text", term), k=10)
        want = o.top_k(TermQuery("text", term), k=10)
        assert [d for d, _ in got] == [d for d, _ in want]
        np.testing.assert_allclose(
            [x for _, x in got], [x for _, x in want], rtol=1e-9
        )
    # phrase positions survive the rewrite
    ph_before = set(se.matching_docids(PhraseQuery.of("text", ["batch", "batch"])))
    s2 = Searcher(idx)
    ph_tomb = set(s2.matching_docids(PhraseQuery.of("text", ["batch", "batch"])))
    assert ph_before == ph_tomb


def test_expunge_holes_mask_docid_sets(spark, idx, tmp_path):
    """Expunge keeps docids stable with HOLES: an expunged docid names no
    document forever, so docid-level queries must not resurrect it
    (review finding — the tombstone mask used to vanish with expunge).
    Holes survive save/load and undelete_all."""
    from montezuma_spark.index.builder import Index
    from montezuma_spark.search import DocIdSetQuery

    idx.delete_docs([0, 5])
    ex = idx.expunge_deletes()
    assert not ex.has_deletions()
    assert list(ex.holes) == [0, 5]
    q = DocIdSetQuery((0, 5, N - 1, N))
    want = [(N - 1, 1.0)]
    assert Searcher(ex).top_docs(q, k=None) == want
    ex.undelete_all()  # clears tombstones only — holes are physical
    assert Searcher(ex).top_docs(q, k=None) == want
    re = Index.load(spark, ex.index_dir) if ex.index_dir else ex.save(
        str(tmp_path / "holes_ix"))
    assert list(re.holes) == [0, 5]
    assert Searcher(re, distributed=True).top_docs(q, k=None) == want
    idx.undelete_all()


def test_add_indexes_rebases_past_holes(spark, idx, tmp_path):
    """Appending onto an expunged index must rebase at the docid
    UNIVERSE bound, not doc_map max + 1 — otherwise appended docids land
    on the tail holes and masked_docids() hides live documents."""
    idx.delete_docs([N - 2, N - 1])          # tail victims → tail holes
    ex = idx.expunge_deletes()
    other = build_index(
        spark, synth_web_pages_df(spark, 10), CFG,
        index_dir=str(tmp_path / "other_ix"),
    )
    merged = ex.add_indexes(other)
    # appended docids start AT the universe bound (N), clear of holes
    assert merged.num_docs() == N - 2 + 10
    s = Searcher(merged)
    from montezuma_spark.search import DocIdSetQuery

    got = s.top_docs(DocIdSetQuery(tuple(range(N - 2, N + 10))), k=None)
    assert [d for d, _ in got] == list(range(N, N + 10))
    idx.undelete_all()


def test_save_preserves_inmemory_tombstones(spark, tmp_path):
    """save() of an index whose deletes never hit a deletions.json (built
    in-memory) must not resurrect the deleted docs."""
    ix = build_index(spark, synth_web_pages_df(spark, 30), CFG)
    ix.delete_docs([3, 4])
    saved = ix.save(str(tmp_path / "saved_del"))
    assert list(saved.tombstones) == [3, 4]
    assert saved.num_docs() == 28
    assert 3 not in {
        d for d, _ in Searcher(saved).top_docs(MatchAllQuery(), k=None)
    }


def test_redeleting_a_hole_is_a_noop(spark, idx):
    """delete_docs of an expunged hole (or an out-of-universe id) must
    not inflate the tombstone set — num_docs subtracts its length and
    expunge bakes the count into the corpus stats."""
    idx.delete_docs([3])
    ex = idx.expunge_deletes()
    assert ex.num_docs() == N - 1
    assert ex.delete_docs([3, 4, N + 50]) == 1   # only 4 is live
    assert list(ex.tombstones) == [4]
    assert ex.num_docs() == N - 2
    ex2 = ex.expunge_deletes()
    assert ex2.num_docs() == N - 2
    assert list(ex2.holes) == [3, 4]
    idx.undelete_all()


def test_streaming_update_by_key(spark, tmp_path):
    """update_batch replaces docs by url: old docids tombstoned, new
    segment serves the fresh content."""
    ix = IncrementalIndexer(spark, str(tmp_path / "incr"), CFG)
    pdf = synth_web_pages_pdf(60)
    ix.add_batch(spark.createDataFrame(pdf), batch_id=0)
    s = Searcher(ix.multi_index())
    target_url = pdf["url"].iloc[0]
    old_hits = s.matching_docids(TermQuery("text", "zebrafish"))
    assert old_hits == []
    upd = pdf.iloc[[0]].copy()
    upd["text"] = "zebrafish zebrafish unique replacement text"
    ix.update_batch(spark.createDataFrame(upd), batch_id=1)
    multi = ix.multi_index()
    s2 = Searcher(multi)
    hits = s2.matching_docids(TermQuery("text", "zebrafish"))
    assert len(hits) == 1 and hits[0] >= 60  # the re-added doc, new docid
    # the old version of the doc no longer matches its former terms
    old_tokens = [t for t in pdf["text"].iloc[0].split() if t.isalpha()]
    if old_tokens:
        tq = TermQuery("text", old_tokens[0].lower())
        docid_old = s2.index.doc_map.filter(
            f"key = '{target_url}'"
        ).collect()
        docids = {r["docid"] for r in docid_old}
        live = set(s2.matching_docids(tq))
        # the tombstoned (pre-update) docid must not appear
        assert not (docids & live & set(range(60)))
    # compaction expunges tombstones and preserves the update
    compacted = ix.compact()
    assert not ix.manifest()["tombstones"]
    s3 = Searcher(compacted)
    assert len(s3.matching_docids(TermQuery("text", "zebrafish"))) == 1


def test_delete_by_key_quote_backslash_keys(spark, tmp_path):
    """Key deletes go through searcher._terms_predicate: one SQL IN for a
    large all-safe key list, the literal isin fallback as soon as any key
    holds a quote or backslash — both must tombstone exactly the keyed
    docs, on a saved Index and on an IncrementalIndexer."""
    pdf = synth_web_pages_pdf(80)
    odd = ["http://example.com/it's", "http://example.com/back\\slash'x"]
    pdf.loc[0, "url"], pdf.loc[1, "url"] = odd
    safe = sorted(pdf["url"].iloc[2:42])          # 40 keys: F.expr IN path
    assert len(safe) >= 32
    docs = spark.createDataFrame(pdf)

    def keyed(ix, keys):
        return {r["docid"] for r in ix.doc_map.filter(
            ix.doc_map["key"].isin(keys)).collect()}

    for keys in (safe, odd + safe[:35]):
        idx = build_index(spark, docs, CFG,
                          index_dir=str(tmp_path / f"ix{len(keys)}"))
        want = keyed(idx, keys)
        assert len(want) == len(keys)
        assert idx.delete_docs_by_key(keys) == len(keys)
        assert set(idx.tombstones.tolist()) == want
    inc = IncrementalIndexer(spark, str(tmp_path / "incr"), CFG)
    inc.add_batch(docs, batch_id=0)
    keys = odd + safe[:35]
    want = keyed(inc.multi_index(), keys)
    assert inc.delete_by_key(keys) == len(keys)
    assert set(inc.manifest()["tombstones"]) == want
    s = Searcher(inc.multi_index())
    assert s.count(MatchAllQuery()) == 80 - len(keys)
