"""Incremental / Structured Streaming index tests: segment-per-batch,
multi-segment query parity, compaction, exactly-once batch replay."""

import pandas as pd
import pytest

from montezuma_spark.fixtures import synth_web_pages_df, synth_web_pages_pdf
from montezuma_spark.index import FieldConfig, IndexConfig, build_index
from montezuma_spark.oracle import OracleIndex
from montezuma_spark.search import (
    MUST,
    SHOULD,
    PhraseQuery,
    Searcher,
    TermQuery,
    WildcardQuery,
    bool_query,
)
from montezuma_spark.streaming import IncrementalIndexer

CFG = IndexConfig(
    fields=[FieldConfig("text", "text", "simple")], shard_bits=5, block_size=16
)


def _batches(spark, n=120, parts=3):
    pdf = synth_web_pages_pdf(n)
    per = n // parts
    return [
        spark.createDataFrame(pdf.iloc[i * per : (i + 1) * per])
        for i in range(parts)
    ]


@pytest.fixture(scope="module")
def incr(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("incr"))
    ix = IncrementalIndexer(spark, d, CFG)
    for i, b in enumerate(_batches(spark)):
        entry = ix.add_batch(b, batch_id=i)
        assert not entry.get("skipped")
    return ix


def test_segment_bases_monotonic(incr):
    man = incr.manifest()
    assert len(man["segments"]) == 3
    bases = [e["docid_base"] for e in man["segments"]]
    assert bases == [0, 40, 80]
    assert man["next_docid"] == 120


def test_batch_replay_skipped(spark, incr):
    b = _batches(spark)[0]
    entry = incr.add_batch(b, batch_id=0)  # replay of applied batch
    assert entry["skipped"]
    assert len(incr.manifest()["segments"]) == 3


def test_multi_segment_query_matches_bulk(spark, incr):
    """3-segment incremental index must score like the oracle built over
    the same docs with the same docids (segment-ordered)."""
    multi = incr.multi_index()
    s = Searcher(multi)
    # oracle with docids = arrival order (batches are url-sorted slices of a
    # url-sorted corpus → docid == global url rank here)
    o = OracleIndex()
    pdf = synth_web_pages_pdf(120)
    from montezuma_spark.analysis import get_analyzer

    for i, row in pdf.sort_values("url").reset_index().iterrows():
        o.add(i, {"text": (row["text"], "simple")})
    q = bool_query(
        (TermQuery("text", "spark"), MUST), (TermQuery("text", "merge"), MUST)
    )
    got = s.top_docs(q, k=10)
    want = o.top_k(q, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, rel=1e-9)


def test_compact_preserves_results(spark, incr):
    q = TermQuery("text", "vector")
    before = Searcher(incr.multi_index()).top_docs(q, k=20)
    compacted = incr.compact()
    assert len(incr.manifest()["segments"]) == 1
    after = Searcher(compacted).top_docs(q, k=20)
    assert [d for d, _ in before] == [d for d, _ in after]
    for (_, s1), (_, s2) in zip(before, after):
        assert s1 == pytest.approx(s2, rel=1e-9)
    # one row per (field, term, shard) after compaction
    from pyspark.sql import functions as F

    dup = (
        compacted.postings.groupBy("field", "term", "shard")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_real_structured_streaming(spark, tmp_path):
    """readStream over a parquet directory → foreachBatch indexing."""
    src = tmp_path / "stream_src"
    docs = synth_web_pages_df(spark, 50).select("url", "text", "lang")
    docs.write.parquet(str(src))
    d = str(tmp_path / "stream_ix")
    ix = IncrementalIndexer(spark, d, CFG)
    stream = (
        spark.readStream.schema("url string, text string, lang string")
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(ix.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    man = ix.manifest()
    assert man["next_docid"] == 50
    s = Searcher(ix.multi_index())
    assert s.count(TermQuery("text", "spark")) > 0


def test_tiered_merge_policy(spark, tmp_path):
    """Log-tier merge (maybe-merge-segments, index-writer.lisp:184-199):
    many small batches compact into O(log N) tiers automatically, with
    results identical to the unmerged multi-reader."""
    d = str(tmp_path / "tiered_ix")
    ix = IncrementalIndexer(
        spark, d, CFG, merge_factor=4, min_merge_docs=20
    )
    pdf = synth_web_pages_pdf(160)
    per = 10
    for i in range(16):
        ix.add_batch(
            spark.createDataFrame(pdf.iloc[i * per : (i + 1) * per]),
            batch_id=i,
        )
    man = ix.manifest()
    # 16 batches of 10 docs, tiers at 20/80: far fewer than 16 segments
    assert len(man["segments"]) < 8, man["segments"]
    assert man["next_docid"] == 160
    assert sum(e["num_docs"] for e in man["segments"]) == 160
    # docid_base coverage is contiguous from 0
    bases = [e["docid_base"] for e in man["segments"]]
    assert bases[0] == 0 and bases == sorted(bases)
    # identical results vs a never-merged indexer over the same batches
    d2 = str(tmp_path / "flat_ix")
    ix2 = IncrementalIndexer(spark, d2, CFG)
    for i in range(16):
        ix2.add_batch(
            spark.createDataFrame(pdf.iloc[i * per : (i + 1) * per]),
            batch_id=i,
        )
    assert len(ix2.manifest()["segments"]) == 16
    q = bool_query((TermQuery("text", "spark"), MUST))
    merged_hits = Searcher(ix.multi_index()).top_docs(q, k=30)
    flat_hits = Searcher(ix2.multi_index()).top_docs(q, k=30)
    assert [h[0] for h in merged_hits] == [h[0] for h in flat_hits]
    for (_, s1), (_, s2) in zip(merged_hits, flat_hits):
        assert s1 == pytest.approx(s2, rel=1e-9)


def test_tiered_merge_with_tombstones(spark, tmp_path):
    """Range merges must NOT expunge manifest tombstones (global docids
    stay query-time until a full compact)."""
    d = str(tmp_path / "tiered_tomb")
    ix = IncrementalIndexer(
        spark, d, CFG, merge_factor=3, min_merge_docs=15
    )
    pdf = synth_web_pages_pdf(90)
    for i in range(9):
        ix.add_batch(spark.createDataFrame(pdf.iloc[i * 10: (i + 1) * 10]),
                     batch_id=i)
    urls = sorted(pdf["url"])[:5]
    ix.delete_by_key(urls)
    assert len(ix.manifest()["tombstones"]) == 5
    ix.maybe_merge()
    s = Searcher(ix.multi_index())
    from montezuma_spark.search import MatchAllQuery

    assert s.count(MatchAllQuery()) == 85


# ------------------------------------------------ saved-tier union serving
@pytest.fixture(scope="module")
def upd_union(spark, tmp_path_factory):
    """3 saved segments; the third is an update_batch that re-adds 10 of
    the first segment's keys with new text (10 manifest tombstones)."""
    d = str(tmp_path_factory.mktemp("upd_union"))
    ix = IncrementalIndexer(spark, d, CFG)
    pdf = synth_web_pages_pdf(120)
    ix.add_batch(spark.createDataFrame(pdf.iloc[0:40]), batch_id=0)
    ix.add_batch(spark.createDataFrame(pdf.iloc[40:80]), batch_id=1)
    moved = pdf.iloc[0:10].copy()
    moved["text"] = pdf["text"].iloc[60:70].to_numpy()
    upd = pd.concat([moved, pdf.iloc[80:120]], ignore_index=True)
    ix.update_batch(spark.createDataFrame(upd), batch_id=2)
    man = ix.manifest()
    assert len(man["segments"]) == 3 and len(man["tombstones"]) == 10
    return ix


def _parity_queries():
    t = lambda w: TermQuery("text", w)  # noqa: E731
    return {
        "term": t("spark"),
        "and2": bool_query((t("spark"), MUST), (t("index"), MUST)),
        "or3": bool_query((t("merge"), SHOULD), (t("shard"), SHOULD),
                          (t("vector"), SHOULD)),
        "phrase": PhraseQuery.of("text", ["spark", "index"]),
    }


def test_union_local_tier_identical_to_distributed(spark, upd_union,
                                                   monkeypatch):
    """The union served driver-direct from its segments' saved files
    returns the distributed tier's exact docids and float scores."""
    import montezuma_spark.search.kernel as kmod

    # small corpus: pin the WAND / pruned machinery on, driver side only
    monkeypatch.setattr(kmod, "PRUNE_MIN_POSTINGS", 0)
    u = upd_union.multi_index()
    assert len(u.saved_dirs) == 3
    local, dist = Searcher(u), Searcher(u, distributed=True)
    tombs = set(int(d) for d in u.tombstones)
    qs = _parity_queries()
    for name, q in qs.items():
        got = local.top_docs(q, k=10)
        assert got == dist.top_docs(q, k=10), name
        assert got and not tombs & {d for d, _ in got}, name
        assert local.count(q) == dist.count(q), name
    assert local._arrow_fetches > 0  # the saved local tier served them
    rows = lambda s: [tuple(r) for r in s.search_batch(qs, k=10).collect()]  # noqa: E731
    assert rows(Searcher(u)) == rows(dist)


def test_union_df_sums_across_segments(spark, upd_union):
    from montezuma_spark.index import Index

    u = upd_union.multi_index()
    segs = [Index.load(spark, e["dir"])
            for e in upd_union.manifest()["segments"]]
    key = ("text", "spark")
    per_seg = [Searcher(s)._lookup_dfs([key])[key] for s in segs]
    assert sum(df > 0 for df in per_seg) >= 2
    assert Searcher(u)._lookup_dfs([key])[key] == sum(per_seg)
    spark_df = (u.term_stats.filter("field = 'text' AND term = 'spark'")
                .collect()[0]["df"])
    assert spark_df == sum(per_seg)


def test_union_term_query_starts_no_spark_job(spark, upd_union):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    u = upd_union.multi_index()
    s = Searcher(u)
    q = TermQuery("text", "index")
    sc.setJobGroup("union-local-probe", "union term query")
    try:
        before = set(tracker.getJobIdsForGroup("union-local-probe"))
        assert s.top_docs(q, k=5)
        after = set(tracker.getJobIdsForGroup("union-local-probe"))
        assert after == before
        assert s._arrow_fetches == 1
        # the same probe on the distributed tier does start jobs
        Searcher(u, distributed=True).top_docs(q, k=5)
        assert set(tracker.getJobIdsForGroup("union-local-probe")) - after
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_stale_union_never_serves_empty(spark, tmp_path):
    """A Searcher opened before compact() removed its segment files
    either raises or returns its pre-compact answer — never an empty
    one."""
    ix = IncrementalIndexer(spark, str(tmp_path / "stale"), CFG)
    for i, b in enumerate(_batches(spark, n=60, parts=2)):
        ix.add_batch(b, batch_id=i)
    warm_q, cold_q = TermQuery("text", "spark"), TermQuery("text", "merge")
    wild_q = WildcardQuery("text", "s*")
    fresh = Searcher(ix.multi_index())
    want = {q: fresh.top_docs(q, k=10) for q in (warm_q, cold_q, wild_q)}
    want_sugg = fresh.suggest("text", "s", n=5)
    assert all(want.values()) and want_sugg
    warm = Searcher(ix.multi_index())
    assert warm.top_docs(warm_q, k=10) == want[warm_q]
    assert warm.top_docs(wild_q, k=10) == want[wild_q]
    unopened = Searcher(ix.multi_index())
    ix.compact()
    for s, q in ((warm, warm_q), (warm, cold_q), (unopened, warm_q),
                 (warm, wild_q), (unopened, wild_q)):
        try:
            got = s.top_docs(q, k=10)
        except FileNotFoundError:
            continue
        assert got == want[q]
    for s in (warm, unopened):
        try:
            got = s.suggest("text", "s", n=5)
        except FileNotFoundError:
            continue
        assert got == want_sugg
    with pytest.raises(FileNotFoundError):
        unopened.top_docs(cold_q, k=10)
