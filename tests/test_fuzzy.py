"""FuzzyQuery — beyond-reference extension (the reference names
FuzzyQuery only in a docstring, boolean-query.lisp:42; fuzzy was never
built). Lucene-lineage semantics: sim = 1 − lev/min_len, threshold
min_similarity, per-term boost scale (sim−ms)/(1−ms). Expansion is a
pushdown dictionary scan (length bounds + prefix + JVM levenshtein)."""

import pytest
from pyspark.sql import functions as F

from montezuma_spark.fixtures import search_docs_df, synth_web_pages_df
from montezuma_spark.index import FieldConfig, IndexConfig, build_index
from montezuma_spark.oracle import OracleIndex
from montezuma_spark.search import (
    SHOULD,
    FuzzyQuery,
    Searcher,
    TermQuery,
    bool_query,
)


@pytest.fixture(scope="module")
def corpus(spark):
    docs = search_docs_df(spark)
    cfg = IndexConfig(
        fields=[FieldConfig("field", "field", "whitespace")],
        key_col="url", shard_bits=2,
    )
    idx = build_index(spark, docs, cfg)
    o = OracleIndex()
    for i, r in enumerate(search_docs_df(spark).orderBy("url").collect()):
        o.add(i, {"field": (r["field"], "whitespace")})
    return idx, o


def test_fuzzy_expansion_terms(spark, corpus, saved_copy):
    """word1 at min_sim 0.7: word1 (sim 1), word2/word3 (lev 1, len 5 →
    sim 0.8); nothing else in the 18-doc vocabulary qualifies."""
    idx, _ = corpus
    s = Searcher(idx)
    exp = s._expand_fuzzy(FuzzyQuery("field", "word1", 0.7))
    assert [t for t, _df, _s in exp] == ["word1", "word2", "word3"]
    sims = {t: sim for t, _df, sim in exp}
    assert sims["word1"] == pytest.approx(1.0)
    assert sims["word2"] == pytest.approx(0.8)
    # the saved-layout tier expands identically
    hot = Searcher(saved_copy(idx))
    assert hot._expand_fuzzy(FuzzyQuery("field", "word1", 0.7)) == exp


def test_fuzzy_matches_oracle_both_tiers(spark, corpus, saved_copy):
    idx, o = corpus
    saved = saved_copy(idx)
    for q in (
        FuzzyQuery("field", "word1", 0.7),
        FuzzyQuery("field", "word2", 0.5),
        FuzzyQuery("field", "quick", 0.6),
        FuzzyQuery("field", "word1", 0.7, prefix_length=4),
        FuzzyQuery("field", "word1", 0.7, boost=2.0),
    ):
        want = o.top_k(q, k=30)
        for s in (Searcher(idx), Searcher(saved)):
            got = s.top_docs(q, k=30)
            assert [d for d, _ in got] == [d for d, _ in want], q
            for (d, sg), (_, sw) in zip(got, want):
                assert sg == pytest.approx(sw, rel=1e-9), (q, d)


def test_fuzzy_scale_orders_nearer_spellings_first(spark, corpus):
    """With equal tf/dl, the exact term outranks distance-1 variants
    because its boost scale is (1-ms)/(1-ms)=1 vs 0.33 at sim 0.8."""
    idx, _ = corpus
    s = Searcher(idx)
    got = s.top_docs(FuzzyQuery("field", "word3", 0.7), k=None)
    texts = [r["field"] for r in
             search_docs_df(spark).orderBy("url").collect()]
    # top hit must contain the exact term word3
    top = got[0][0]
    assert "word3" in texts[top].split()


def test_fuzzy_in_boolean_and_empty_expansion(spark, corpus):
    idx, _ = corpus
    s = Searcher(idx)
    q = bool_query(
        (FuzzyQuery("field", "word2", 0.7), SHOULD),
        (TermQuery("field", "fox"), SHOULD),
    )
    assert len(s.top_docs(q, k=30)) > 0
    # a term nothing resembles expands to the empty disjunction
    assert s.top_docs(FuzzyQuery("field", "zzzzzzzzz", 0.8), k=10) == []


def test_fuzzy_pushdown_plan(spark, corpus, tmp_path, capsys):
    """The distributed expansion pushes length bounds (and prefix) into
    the term_stats scan; levenshtein filters the pruned slice. Needs a
    SAVED index (pushdown shows on the parquet scan)."""
    from montezuma_spark.index import Index

    cfg = IndexConfig(
        fields=[FieldConfig("field", "field", "whitespace")],
        key_col="url", shard_bits=2,
    )
    d = str(tmp_path / "fuzzix")
    build_index(spark, search_docs_df(spark), cfg, index_dir=d)
    idx = Index.load(spark, d)
    q = FuzzyQuery("field", "word1", 0.7, prefix_length=2)
    L = 5
    ts = idx.term_stats.filter(
        (F.col("field") == "field") & F.length("term").between(3, 6)
        & F.col("term").startswith("wo")
    )
    dist = F.levenshtein(F.col("term"), F.lit("word1"))
    scan = ts.withColumn(
        "_sim",
        F.lit(1.0) - dist / F.least(F.lit(L), F.length("term")).cast("double"),
    ).filter(F.col("_sim") >= 0.7)
    scan.explain("formatted")
    plan = capsys.readouterr().out
    flat = plan.replace(" ", "")
    assert "StringStartsWith(term,wo)" in flat
    # the engine's expansion agrees with this hand-built scan
    s = Searcher(idx)
    exp = {t for t, _df, _s in s._expand_fuzzy(q)}
    assert exp == {r["term"] for r in scan.collect()}


def test_spell_correct_orders_by_similarity_then_df(spark, corpus):
    """Did-you-mean (Searcher.spell_correct): (sim desc, df desc,
    term asc), the exact query term excluded, vs a scalar rerank of
    the same fuzzy expansion."""
    idx, _ = corpus
    s = Searcher(idx)
    got = s.spell_correct("field", "word9", n=5, min_similarity=0.7)
    exp = s._expand_fuzzy(FuzzyQuery("field", "word9", 0.7))
    want = sorted(
        (r for r in exp if r[0] != "word9"),
        key=lambda r: (-r[2], -r[1], r[0]),
    )[:5]
    assert got == want and len(got) >= 3
    sims = [sim for _t, _df, sim in got]
    assert sims == sorted(sims, reverse=True)
    # an in-vocabulary query term is excluded from its own suggestions
    got2 = s.spell_correct("field", "word1", n=5, min_similarity=0.7)
    assert all(t != "word1" for t, _df, _s in got2) and got2


def test_fuzzy_truncation_keeps_nearest_spellings(spark, saved_copy):
    """Adversarial truncation: MORE in-threshold terms than
    max_expansion, with the worse-similarity terms lexicographically
    FIRST — a lexicographic limit would keep exactly the wrong ones.
    Locks the round-4 fix: truncation orders by (sim desc, term asc)
    on both the in-memory and saved-layout tiers."""
    worse = ["aadd", "abdd", "acdd", "aedd", "afdd"]   # lev 2 -> sim 0.5
    better = ["addd", "bddd", "cddd"]                  # lev 1 -> sim 0.75
    rows = [(f"u://{i:02d}", t)
            for i, t in enumerate(worse + better + ["dddd"])]
    docs = spark.createDataFrame(rows, "url string, field string")
    cfg = IndexConfig(
        fields=[FieldConfig("field", "field", "whitespace")],
        key_col="url", shard_bits=2,
    )
    idx = build_index(spark, docs, cfg)
    q = FuzzyQuery("field", "dddd", 0.45)  # all 9 terms in-threshold
    expansions = []
    for s in (Searcher(idx), Searcher(saved_copy(idx))):
        s.max_expansion = 4
        exp = s._expand_fuzzy(q)
        assert [t for t, _df, _s in exp] == sorted(better + ["dddd"])
        assert {round(sim, 9) for _t, _df, sim in exp} == {1.0, 0.75}
        expansions.append(exp)
    assert expansions[0] == expansions[1]  # tier identity
