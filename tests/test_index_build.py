"""Index-construction tests: docid determinism, postings correctness,
checkpoint/resume."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from montezuma_spark.codec import decode_cell, decode_positions
from montezuma_spark.fixtures import search_docs_df, synth_web_pages_df


def test_hot_term_bounded_by_shard(spark):
    """Structural salting evidence (builder.py docid-range shards): a term
    present in EVERY doc must never produce a posting cell larger than one
    shard (2^shard_bits docs) — no reducer, task, or queried group ever
    sees the whole hot posting list, regardless of global df. This is the
    skew claim the 100-TB design rests on, asserted instead of assumed."""
    import pandas as pd

    from montezuma_spark.index import FieldConfig, IndexConfig, build_index
    from montezuma_spark.search import Searcher, TermQuery

    n = 50_000
    shard_bits = 8  # 256-doc shards
    ids = np.arange(n)
    texts = [
        f"hot w{i % 977} w{(i * 31) % 977} filler{i % 13}" for i in ids
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"url": [f"h://{i:08d}" for i in ids], "text": texts})
    )
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "whitespace", positions=False)],
        key_col="url", shard_bits=shard_bits, num_partitions=8,
    )
    idx = build_index(spark, docs, cfg)
    from pyspark.sql import functions as F

    hot = idx.postings.filter(F.col("term") == "hot")
    rows = hot.select(
        "shard", "df", F.length("postings").alias("bytes")
    ).collect()
    shard_cap = 1 << shard_bits
    # df=n overall, but EVERY cell is bounded by one shard's doc range
    assert sum(r["df"] for r in rows) == n
    assert max(r["df"] for r in rows) <= shard_cap
    # bytes per cell stay small and shard-bounded (≈1.5 B/posting here);
    # the whole hot list never materializes in one buffer
    assert max(r["bytes"] for r in rows) < 16 * shard_cap
    # the hot list is spread across every shard, not concentrated
    assert len({r["shard"] for r in rows}) == (n + shard_cap - 1) // shard_cap
    # and querying the hot term stays correct (count, not a sample)
    assert Searcher(idx, distributed=True).count(TermQuery("text", "hot")) == n


def test_term_vector_offsets_roundtrip(spark, tmp_path):
    """Offsets sidecar (FieldConfig.offsets=True): (positions, starts,
    ends) must exactly match Analyzer.tokens_with_offsets on the source
    text (term-vectors-io.lisp + term-vector-offset-info.lisp analog),
    and text[start:end] re-analyzes to the stored term. Survives
    save/load; indexes without the flag have no sidecar."""
    import pandas as pd

    from montezuma_spark.analysis import get_analyzer
    from montezuma_spark.index import (
        FieldConfig,
        Index,
        IndexConfig,
        build_index,
    )

    texts = [
        "The Quick Brown Fox, the I.B.M. fox — she's quick!",
        "spark merge vector merge SPARK",
        "",
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"url": [f"u://{i}" for i in range(3)], "text": texts})
    )
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "standard", offsets=True)],
        key_col="url", shard_bits=3,
    )
    d = str(tmp_path / "tvix")
    idx = build_index(spark, docs, cfg, index_dir=d)
    idx = Index.load(spark, d)
    an = get_analyzer("standard")
    tv = idx.term_vectors(with_offsets=True).toPandas()
    for docid, text in enumerate(texts):
        want: dict = {}
        for pos, (img, s, e) in enumerate(an.tokens_with_offsets(text)):
            want.setdefault(img, []).append((pos, s, e))
        got_rows = tv[tv["docid"] == docid]
        got = {
            r.term: list(zip(r.positions, r.starts, r.ends))
            for r in got_rows.itertuples(index=False)
        }
        assert got == want, docid
        for r in got_rows.itertuples(index=False):
            assert int(r.tf) == len(r.positions)
            for s, e in zip(r.starts, r.ends):
                reanalyzed = an.tokens(text[s:e])
                assert reanalyzed == [r.term] or r.term in reanalyzed
    # docid filter surface
    only1 = idx.term_vectors(docids=[1], with_offsets=True).toPandas()
    assert set(only1["docid"]) == {1}
    # highlighting consumes the sidecar: spans wrap exactly the raw-text
    # occurrences the query terms matched (incl. wildcard expansion)
    from montezuma_spark.search import Searcher, TermQuery, WildcardQuery

    s = Searcher(idx)
    marked = s.highlight(
        TermQuery("text", "quick"), 0, text=texts[0], pre="[", post="]"
    )
    assert "[Quick]" in marked and "[quick]" in marked
    spans = s.highlight(WildcardQuery("text", "me*"), 1)
    assert [(t, texts[1][a:b]) for t, a, b in spans] == [
        ("merge", "merge"), ("merge", "merge")
    ]
    # positions-only path unaffected; no sidecar without the flag
    plain = build_index(
        spark, docs,
        IndexConfig(fields=[FieldConfig("text", "text", "standard")],
                    key_col="url"),
    )
    assert plain.tv_offsets is None
    with pytest.raises(ValueError, match="offsets sidecar"):
        plain.term_vectors(with_offsets=True)
from montezuma_spark.index import FieldConfig, IndexConfig, build_index
from montezuma_spark.index.builder import row_meta


SEARCH_CFG = IndexConfig(
    fields=[
        FieldConfig("field", "field", "whitespace"),
        FieldConfig("date", "date", None, positions=False),
        FieldConfig("cat", "cat", None, positions=False),
    ],
    key_col="url",
    shard_bits=3,  # 8-doc shards → exercises multi-shard merge on 18 docs
    block_size=4,  # tiny blocks → exercises block metadata
)


@pytest.fixture(scope="module")
def search_index(spark):
    return build_index(spark, search_docs_df(spark), SEARCH_CFG)


def test_docids_match_reference_order(spark, search_index):
    dm = search_index.doc_map.orderBy("docid").toPandas()
    assert list(dm["docid"]) == list(range(18))
    # urls zero-padded → url order == reference doc order
    assert list(dm["key"]) == [f"test://search-docs/{i:04d}" for i in range(18)]


def test_corpus_stats(search_index):
    st = search_index.stats["field"]
    assert st["num_docs"] == 18
    # total tokens in 'field': count words of each doc
    from montezuma_spark.fixtures import SEARCH_DOCS

    total = sum(len(f.split()) for _, f, _ in SEARCH_DOCS)
    assert st["total_tokens"] == total
    assert abs(st["avgdl"] - total / 18) < 1e-9


def test_postings_word2(search_index):
    rows = search_index.postings.filter(
        (F.col("field") == "field") & (F.col("term") == "word2")
    ).collect()
    docids = []
    codec = search_index.config.block_codec
    for r in rows:
        meta = row_meta(r)
        d, t, dl = decode_cell(bytes(r["postings"]), meta, codec=codec)
        assert (t == 1).all()
        assert (dl > 0).all()
        docids.extend(d.tolist())
    assert sorted(docids) == [1, 4, 8]  # tc-index-searcher.lisp:67-69


def test_positions_roundtrip_via_index(search_index):
    # doc 16: "word1 the quick fox is brown and hairy and a little red"
    # whitespace-analyzer → "and" at positions 6 and 8
    rows = search_index.postings.filter(
        (F.col("field") == "field") & (F.col("term") == "and")
    ).collect()
    found = {}
    codec = search_index.config.block_codec
    for r in rows:
        meta = row_meta(r)
        d, t, _dl = decode_cell(bytes(r["postings"]), meta, codec=codec)
        block_tfs = {}
        # split tfs by block
        i = 0
        for j, nb in enumerate(meta["n"]):
            block_tfs[j] = t[i : i + nb]
            i += nb
        pos = decode_positions(
            bytes(r["positions"]), list(r["pos_off"]), meta, block_tfs,
            codec=codec,
        )
        flat = np.concatenate([pos[j] for j in sorted(pos)])
        bounds = np.cumsum(t)
        for k, doc in enumerate(d):
            found[int(doc)] = flat[bounds[k] - t[k] : bounds[k]].tolist()
    assert found[16] == [6, 8]
    assert found[17] == [6]  # "word1 the brown fox is quick and red"


def test_term_stats_df(search_index):
    ts = {
        (r["field"], r["term"]): r["df"]
        for r in search_index.term_stats.collect()
    }
    assert ts[("field", "word1")] == 18
    assert ts[("field", "word2")] == 3
    assert ts[("field", "word3")] == 6
    assert ts[("date", "20051008")] == 1
    assert ts[("cat", "cat1/sub1")] == 2


def test_untokenized_fields(search_index):
    # date/cat indexed as single whole-value terms
    ts = [
        r["term"]
        for r in search_index.term_stats.filter(F.col("field") == "cat").collect()
    ]
    assert "cat1/sub1/subsub1" in ts


def test_save_load_roundtrip(spark, tmp_path):
    idx = build_index(
        spark, search_docs_df(spark), SEARCH_CFG, index_dir=str(tmp_path / "ix")
    )
    from montezuma_spark.index import Index

    idx2 = Index.load(spark, str(tmp_path / "ix"))
    assert idx2.stats["field"]["num_docs"] == 18
    assert idx2.term_stats.count() == idx.term_stats.count()
    assert idx2.build_report["segment_docs"] == 18


def test_unpersist_releases_build_frames(spark):
    """Index.unpersist drops exactly the frames build_index persisted, and
    the index still answers from lineage afterwards."""
    from montezuma_spark.search import Searcher, TermQuery

    idx = build_index(spark, search_docs_df(spark), SEARCH_CFG)
    want = Searcher(idx).top_docs(TermQuery("field", "word2"), k=3)
    def persisted(df):
        return df.storageLevel.useMemory or df.storageLevel.useDisk

    frames = idx._build_cache
    assert len(frames) == 2 and all(persisted(df) for df in frames)
    idx.unpersist()
    assert not any(persisted(df) for df in frames)
    assert Searcher(idx).top_docs(TermQuery("field", "word2"), k=3) == want


def test_checkpoint_resume(spark, tmp_path):
    docs = synth_web_pages_df(spark, 200)
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "simple")], shard_bits=6
    )
    d = str(tmp_path / "ck")
    idx1 = build_index(spark, docs, cfg, index_dir=d)
    assert idx1.build_report["segment_skipped"] == 0
    t1 = {(r["field"], r["term"]): (r["df"], r["cf"]) for r in idx1.term_stats.collect()}
    stats1 = idx1.stats
    # resume: all partitions already committed → zero re-tokenization
    idx2 = build_index(spark, docs, cfg, index_dir=d, resume=True)
    assert idx2.build_report["segment_skipped"] == idx2.build_report[
        "segment_partitions"
    ]
    assert idx2.stats == stats1
    t2 = {(r["field"], r["term"]): (r["df"], r["cf"]) for r in idx2.term_stats.collect()}
    assert t1 == t2


def test_deterministic_docids_across_parallelism(spark):
    docs = synth_web_pages_df(spark, 150)
    cfg = IndexConfig(fields=[FieldConfig("text", "text", "simple")])
    a = build_index(spark, docs.repartition(3), cfg)
    b = build_index(spark, docs.repartition(11), cfg)
    da = a.doc_map.orderBy("docid").toPandas()
    db = b.doc_map.orderBy("docid").toPandas()
    assert list(da["key"]) == list(db["key"])
    assert list(da["docid"]) == list(db["docid"])


def test_add_indexes_matches_single_build(spark):
    """add_indexes (index-writer.lisp:109-153): two separately built
    indexes over url-disjoint halves must answer like one build over the
    concatenation — rank- and score-identical (docids align because the
    second half's urls sort after the first's)."""
    from montezuma_spark.fixtures import synth_web_pages_pdf
    from montezuma_spark.search import Searcher, TermQuery, PhraseQuery

    pdf = synth_web_pages_pdf(120).sort_values("url").reset_index(drop=True)
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "simple")], shard_bits=5,
        block_size=16,
    )
    a = build_index(spark, spark.createDataFrame(pdf.iloc[:70]), cfg)
    b = build_index(spark, spark.createDataFrame(pdf.iloc[70:]), cfg)
    merged = a.add_indexes(b)
    whole = build_index(spark, spark.createDataFrame(pdf), cfg)
    assert merged.stats["text"]["num_docs"] == 120
    assert abs(
        merged.stats["text"]["avgdl"] - whole.stats["text"]["avgdl"]
    ) < 1e-9
    sm, sw = Searcher(merged), Searcher(whole)
    for q in (
        TermQuery("text", "merge"),
        TermQuery("text", "spark"),
        PhraseQuery.of("text", ["batch", "batch"]),
    ):
        got = sm.top_docs(q, k=20)
        want = sw.top_docs(q, k=20)
        assert [d for d, _ in got] == [d for d, _ in want], q
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in want], rtol=1e-9
        )
    # dictionary identical
    tm = {(r["field"], r["term"]): (r["df"], r["cf"])
          for r in merged.term_stats.collect()}
    tw = {(r["field"], r["term"]): (r["df"], r["cf"])
          for r in whole.term_stats.collect()}
    assert tm == tw


def test_term_vectors_uninvert(spark, search_index):
    """term_vectors (term-vectors-io.lisp analog): uninverted postings must
    reproduce the original per-doc token multiset and positions."""
    tv = search_index.term_vectors(docids=[16, 17]).toPandas()
    got16 = {
        r.term: (r.tf, list(r.positions))
        for r in tv[(tv.docid == 16) & (tv.field == "field")].itertuples()
    }
    # doc 16: "word1 the quick fox is brown and hairy and a little red"
    assert got16["and"] == (2, [6, 8])
    assert got16["word1"] == (1, [0])
    assert sum(tf for tf, _ in got16.values()) == 12
    # whole-table uninvert round-trips token counts
    full = search_index.term_vectors().toPandas()
    assert int(full[full.field == "field"]["tf"].sum()) == \
        search_index.stats["field"]["total_tokens"]


def test_multivalue_position_gap(spark):
    """Multi-valued (array) columns: values tokenized independently and
    concatenated with position_increment_gap between them
    (document-writer.lisp:64-65, analyzers.lisp:12-16)."""
    from montezuma_spark.search import PhraseQuery, Searcher, TermQuery

    rows = [("u1", ["alpha beta", "gamma delta"]), ("u2", ["epsilon"])]
    docs = spark.createDataFrame(rows, "url string, parts array<string>")
    mk = lambda gap: Searcher(
        build_index(
            spark,
            docs,
            IndexConfig(
                fields=[
                    FieldConfig("parts", "parts", "simple", position_gap=gap)
                ],
                shard_bits=3,
                block_size=4,
            ),
        )
    )
    s0 = mk(0)
    # gap 0 (the reference default): positions contiguous → cross-value
    # phrase matches
    assert s0.matching_docids(PhraseQuery.of("parts", ["beta", "gamma"])) == [0]
    s100 = mk(100)
    # a large gap blocks cross-value phrases but not within-value ones
    assert s100.matching_docids(PhraseQuery.of("parts", ["beta", "gamma"])) == []
    assert s100.matching_docids(PhraseQuery.of("parts", ["alpha", "beta"])) == [0]
    assert s100.matching_docids(PhraseQuery.of("parts", ["gamma", "delta"])) == [0]
    assert s100.matching_docids(TermQuery("parts", "delta")) == [0]
    # dl counts tokens across all values
    assert s100.index.stats["parts"]["total_tokens"] == 5
    # untokenized multi-value: each whole value is one term
    su = Searcher(
        build_index(
            spark,
            docs,
            IndexConfig(
                fields=[FieldConfig("cat", "parts", None, positions=False)],
                shard_bits=3,
            ),
        )
    )
    assert su.matching_docids(TermQuery("cat", "alpha beta")) == [0]
    assert su.matching_docids(TermQuery("cat", "epsilon")) == [1]


def test_snippets_best_passage(spark, tmp_path):
    """Searcher.snippets: the best window by (matches, distinct terms,
    earliest start); passages are non-overlapping and best-first;
    formatted fragments wrap every span in the window."""
    import pandas as pd

    from montezuma_spark.index import FieldConfig, IndexConfig, build_index
    from montezuma_spark.search import SHOULD, Searcher, TermQuery, bool_query

    filler = " ".join(f"pad{i}" for i in range(30))
    # cluster of 3 matches late in the doc beats the lone early match
    text = (
        "spark alone " + filler
        + " spark merge spark tail words " + filler
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"url": ["u://0"], "text": [text]})
    )
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "whitespace", offsets=True)],
        key_col="url", shard_bits=3,
    )
    idx = build_index(spark, docs, cfg, index_dir=str(tmp_path / "snix"))
    s = Searcher(idx)
    q = bool_query(
        (TermQuery("text", "spark"), SHOULD),
        (TermQuery("text", "merge"), SHOULD),
    )
    frags = s.snippets(q, 0, window=40, n=2, text=text)
    assert len(frags) == 2
    best, second = frags
    assert best["n_matches"] == 3 and best["terms"] == ["merge", "spark"]
    assert text[best["start"]:].startswith("spark merge spark")
    assert best["text"].startswith("<b>spark</b> <b>merge</b> <b>spark</b>")
    # second passage: the early lone match, non-overlapping with best
    assert second["n_matches"] == 1 and second["start"] == 0
    assert second["end"] <= best["start"] or second["start"] >= best["end"]
    # brute-force oracle: best window anchored at any span
    spans = s._match_spans(q, 0)
    def win(i):
        s0 = spans[i][1]
        g = [sp for sp in spans[i:] if sp[2] <= s0 + 40]
        return (len(g), len({t for t, _, _ in g}), -s0)
    assert max(win(i) for i in range(len(spans))) == (
        best["n_matches"], len(best["terms"]), -best["start"])
    # n=1 returns only the best
    assert s.snippets(q, 0, window=40)[0]["start"] == best["start"]
