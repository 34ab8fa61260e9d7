"""Index-time per-doc boosts (field.lisp:104-120, document-writer.lisp:
215-227 write-norms; golden corpus with boost = docid+1 mirrors
tests/unit/index/th-doc.lisp:242-271). BM25 replaces the reference's
tf-idf norm product (north star), so the parity surface is the boost
SEMANTICS: score(doc) = unboosted_score(doc) × boost(doc), rankings
reorder accordingly, and the multiplier survives save/load, the
distributed path, the saved-layout tier, WAND pruning, and expunge."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from montezuma_spark.fixtures import search_docs_df
from montezuma_spark.index import FieldConfig, IndexConfig, Index, build_index
from montezuma_spark.search import (
    SHOULD,
    PhraseQuery,
    Searcher,
    TermQuery,
    bool_query,
)


def _cfg(**kw):
    return IndexConfig(
        fields=[FieldConfig("field", "field", "whitespace")],
        key_col="url",
        shard_bits=2,  # several shards over 18 docs
        **kw,
    )


@pytest.fixture(scope="module")
def plain_and_boosted(spark):
    docs = search_docs_df(spark).withColumn(
        "boost", (F.col("docid_expected") + 1).cast("double")
    )
    plain = build_index(spark, docs, _cfg())
    boosted = build_index(spark, docs, _cfg(boost_col="boost"))
    return plain, boosted


def test_boost_multiplies_scores(spark, plain_and_boosted):
    plain, boosted = plain_and_boosted
    for q in (
        TermQuery("field", "word2"),
        bool_query(
            (TermQuery("field", "quick"), SHOULD),
            (TermQuery("field", "brown"), SHOULD),
        ),
        PhraseQuery.of("field", ["quick", "brown"]),
    ):
        base = dict(Searcher(plain).top_docs(q, k=None))
        got = dict(Searcher(boosted).top_docs(q, k=None))
        assert set(base) == set(got)
        for d in base:
            assert got[d] == pytest.approx(base[d] * (d + 1), rel=1e-12), (q, d)


def test_boost_reorders_golden_ranking(spark, plain_and_boosted):
    """word2 hits are docs 1, 4, 8; with boost=docid+1 the highest docid
    must win (boost 9 vs 5 vs 2 dwarfs the tf/dl differences)."""
    plain, boosted = plain_and_boosted
    base = Searcher(plain).top_docs(TermQuery("field", "word2"), k=3)
    got = Searcher(boosted).top_docs(TermQuery("field", "word2"), k=3)
    assert sorted(d for d, _ in got) == sorted(d for d, _ in base) == [1, 4, 8]
    assert [d for d, _ in got] == [8, 4, 1]


def test_boost_all_paths_agree(spark, plain_and_boosted, tmp_path):
    """Fast-path, distributed kernel, and a save/load round-trip (the
    saved-layout cell-cache tier) all produce the identical boosted
    ranking."""
    _, boosted = plain_and_boosted
    q = bool_query(
        (TermQuery("field", "word1"), SHOULD),
        (TermQuery("field", "fox"), SHOULD),
    )
    want = Searcher(boosted).top_docs(q, k=6)
    assert Searcher(boosted, distributed=True).top_docs(q, k=6) == want
    d = str(tmp_path / "bix")
    loaded = boosted.save(d)
    assert Searcher(loaded).top_docs(q, k=6) == want
    reloaded = Index.load(spark, d)
    assert Searcher(reloaded).top_docs(q, k=6) == want


def test_boost_wand_rank_identical(spark):
    """Block-max WAND pruning stays exact under boosting: the pruned
    disjunction must rank-match exhaustive evaluation on a corpus where
    boosts invert the unboosted order."""
    import pandas as pd

    rng = np.random.RandomState(11)
    words = ["alpha", "beta", "gamma", "delta"]
    rows = []
    for i in range(400):
        toks = rng.choice(words, size=rng.randint(3, 30))
        rows.append(
            {
                "url": f"t://{i:05d}",
                "text": " ".join(toks),
                "boost": float(1 + (i * 7) % 13) / 4.0,
            }
        )
    docs = spark.createDataFrame(pd.DataFrame(rows))
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "whitespace")],
        key_col="url",
        shard_bits=5,
        block_size=16,
        boost_col="boost",
    )
    idx = build_index(spark, docs, cfg)
    s = Searcher(idx)
    q = bool_query(*[(TermQuery("text", w), SHOULD) for w in words[:3]])
    # exhaustive reference: k=None evaluates without WAND, then truncate.
    # Scores may differ in the last ulp (summation order differs between
    # the pruned and exhaustive paths); ranks must be identical.
    full = Searcher(idx).top_docs(q, k=None)
    got = s.top_docs(q, k=10)
    assert [d for d, _ in got] == [d for d, _ in full[:10]]
    for (_, a), (_, b) in zip(got, full[:10]):
        assert a == pytest.approx(b, rel=1e-12)


def test_boost_survives_expunge(spark, plain_and_boosted, tmp_path):
    _, boosted = plain_and_boosted
    d = str(tmp_path / "eix")
    saved = boosted.save(d)
    saved.delete_docs([8])
    ex = saved.expunge_deletes()
    got = Searcher(ex).top_docs(TermQuery("field", "word2"), k=3)
    assert [doc for doc, _ in got] == [4, 1]
    # surviving docs keep their multiplier (idf/avgdl refreshed, so compare
    # against a fresh unboosted expunge of the same deletion)
    plain_saved = plain_and_boosted[0].save(str(tmp_path / "pix"))
    plain_saved.delete_docs([8])
    base = dict(Searcher(plain_saved.expunge_deletes()).top_docs(
        TermQuery("field", "word2"), k=None
    ))
    for doc, score in got:
        assert score == pytest.approx(base[doc] * (doc + 1), rel=1e-12)


def test_boost_quantization_is_1024th_steps(spark):
    """Boosts quantize to 1/1024 steps (the byte-quantized norm analog at
    finer precision) with a floor of 1/1024."""
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["a", "b", "c"],
                "text": ["same text", "same text", "same text"],
                "boost": [1.00049, 0.0, 2.5],
            }
        )
    )
    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "whitespace")],
        key_col="url",
        boost_col="boost",
    )
    idx = build_index(spark, docs, cfg)
    got = dict(Searcher(idx).top_docs(TermQuery("text", "same"), k=None))
    base = got[2] / 2.5  # exact multiplier (2.5*1024 is integral)
    assert got[0] == pytest.approx(base * round(1.00049 * 1024) / 1024)
    assert got[1] == pytest.approx(base * 1 / 1024)  # floor, never 0


def test_wand_bound_with_all_demotion_boosts(spark, saved_copy):
    """max_boost clamp (round-2 advice): merging a demotion-boosted index
    (every boost < 1.0) with an unboosted one puts docs WITHOUT a boost
    entry (implicit 1.0) next to covered boosts all < 1 — WAND's upper
    bound must still use max(1.0, max boost) or pruned top-k can drop a
    true hit. Pruned ranking must equal the exhaustive one."""
    from pyspark.sql import functions as F

    from montezuma_spark.fixtures import synth_web_pages_df
    from montezuma_spark.search import SHOULD, bool_query

    cfg_boost = IndexConfig(
        fields=[FieldConfig("text", "text", "simple")], shard_bits=4,
        block_size=8, boost_col="boost",
    )
    cfg_plain = IndexConfig(
        fields=[FieldConfig("text", "text", "simple")], shard_bits=4,
        block_size=8,
    )
    demoted = build_index(
        spark,
        synth_web_pages_df(spark, 40).withColumn("boost", F.lit(0.25)),
        cfg_boost,
    )
    plain = build_index(
        spark,
        synth_web_pages_df(spark, 40).withColumn(
            "url", F.concat(F.lit("z"), F.col("url"))
        ),
        cfg_plain,
    )
    merged = demoted.add_indexes(plain)
    s = Searcher(saved_copy(merged))
    q = bool_query(
        (TermQuery("text", "spark"), SHOULD),
        (TermQuery("text", "merge"), SHOULD),
        (TermQuery("text", "vector"), SHOULD),
    )
    full = s.top_docs(q, k=None)
    got = s.top_docs(q, k=5)
    # pruned vs exhaustive may differ in last-ulp summation order — compare
    # rank and approx scores (same discipline as the WAND/similarity tests)
    assert [d for d, _ in got] == [d for d, _ in full[:5]]
    for (d, sg), (_, sf) in zip(got, full[:5]):
        assert sg == pytest.approx(sf, rel=1e-12), d
    # unboosted (rebased) docs outrank demoted ones given equal content
    assert any(d >= 40 for d, _ in got)
