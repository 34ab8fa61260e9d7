"""Dictionary expansion on saved layouts: wildcard, regexp, range, fuzzy,
``suggest`` and ``spell_correct`` read the saved term_stats driver-direct
(``SavedTable.read_range``) and must equal the Spark term_stats pushdown
on the same index tuple for tuple — float sims included — on a single
saved index and on a 3-segment streaming union, while starting no Spark
job."""

import contextlib
import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from montezuma_spark.index import FieldConfig, Index, IndexConfig, build_index
from montezuma_spark.index.pointread import SavedTable
from montezuma_spark.search import (
    FuzzyQuery,
    RangeQuery,
    RegexpQuery,
    Searcher,
    WildcardQuery,
)
from montezuma_spark.streaming import IncrementalIndexer

CFG = IndexConfig(
    fields=[FieldConfig("text", "text", "whitespace")], shard_bits=3
)
TOP = "pre\U0010ffff"  # no successor code point: prefix + TOP + "x" sorts last
VOCAB = [
    "word", "word1", "word2", "word3", "wordy", "words", "ward", "wurd",
    "cafe", "café", "cafés", "caff", "naive", "naïve", "über", "uber",
    "x1", "x١", "١٢٣", "ab12", "ab١٢", "é", "日本語", "日本",
    "pre", "prefix", TOP, TOP + "x", "pre\u00e9",
    "pre\uff57",  # sorts below TOP by code point, above it in UTF-16
]


def _pdf():
    import pandas as pd

    # term j sits in doc i when (i + j) % (1 + j % 4) == 0: dfs of
    # 36/18/12/9 docs, many ties, so every truncation order matters
    rows = []
    for i in range(36):
        words = ["filler"] + [
            w for j, w in enumerate(VOCAB) if (i + j) % (1 + j % 4) == 0
        ]
        rows.append({"url": f"test://lx/{i:03d}", "text": " ".join(words)})
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("lx_saved") / "ix")
    build_index(spark, spark.createDataFrame(_pdf()), CFG, index_dir=d)
    return Index.load(spark, d)


@pytest.fixture(scope="module")
def union(spark, tmp_path_factory):
    ix = IncrementalIndexer(spark, str(tmp_path_factory.mktemp("lx_union")),
                            CFG)
    pdf = _pdf()
    for b in range(3):
        ix.add_batch(spark.createDataFrame(pdf.iloc[b * 12:(b + 1) * 12]),
                     batch_id=b)
    u = ix.multi_index()
    assert len(u.saved_dirs) == 3
    return u


def _calls(n):
    """(name, searcher -> answer) for every expansion kind."""
    out = []
    for p in ("w*", "*é", "pre*", TOP + "*", "w?rd*", "caf*", "*"):
        out.append((f"wildcard {p!r}",
                    lambda s, p=p: s._expand_wildcard(
                        WildcardQuery("text", p))))
    for p in (r"\d+", r"x\d", r"ab\d+", r"\w+", r"\w\w", "caf.", "pre.*x",
              "(ward|wurd)", "word[0-9]?", r"\S\S\S"):
        out.append((f"regexp {p!r}",
                    lambda s, p=p: s._expand_regexp(RegexpQuery("text", p))))
    for lo, hi, il, iu in (("c", "p", True, True), ("café", "naïve", False,
                           False), (None, "m", True, True),
                           ("pre", None, False, True), ("word", "word3",
                           True, False)):
        out.append((f"range {lo!r}..{hi!r}",
                    lambda s, a=(lo, hi, il, iu): s._expand_range(
                        RangeQuery("text", *a))))
    for t, ms, pl in (("word1", 0.5, 0), ("cafe", 0.5, 0), ("café", 0.6, 2),
                      ("wurd", 0.4, 0), ("日本", 0.5, 0)):
        out.append((f"fuzzy {t!r}",
                    lambda s, a=(t, ms, pl): s._expand_fuzzy(
                        FuzzyQuery("text", *a))))
    for p in ("", "w", "ca", "pre", "zzz"):
        out.append((f"suggest {p!r}",
                    lambda s, p=p: s.suggest("text", p, n=n)))
    for t, pl in (("word", 0), ("cafe", 0), ("wurd", 1)):
        out.append((f"spell {t!r}",
                    lambda s, a=(t, pl): s.spell_correct(
                        "text", a[0], n=n, min_similarity=0.4,
                        prefix_length=a[1])))
    return out


@contextlib.contextmanager
def _no_spark_job(spark, name):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(name, name)
    try:
        before = set(tracker.getJobIdsForGroup(name))
        yield
        assert set(tracker.getJobIdsForGroup(name)) == before, name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize("layout", ["saved", "union"])
@pytest.mark.parametrize("max_expansion,n", [(10_000, 3), (2, 1)])
def test_saved_expansion_equals_spark_pushdown(spark, request, monkeypatch,
                                               layout, max_expansion, n):
    index = request.getfixturevalue(layout)
    calls = _calls(n)
    with _no_spark_job(spark, f"lx-{layout}-{max_expansion}"):
        local = Searcher(index, max_expansion=max_expansion)
        got = {name: fn(local) for name, fn in calls}
    with monkeypatch.context() as m:
        m.setattr(index, "_term_stats_dataset", lambda: None)
        pushdown = Searcher(index, max_expansion=max_expansion)
        want = {name: fn(pushdown) for name, fn in calls}
    for name, _ in calls:
        assert got[name] == want[name], name
        assert all(type(v) is type(w) for g, h in zip(got[name], want[name])
                   for v, w in zip(g, h)), name
    if max_expansion == 10_000:
        # the cases the saved path must not lose
        assert TOP + "x" in {t for t, _ in got["wildcard 'pre*'"]}
        assert [t for t, _ in got[f"wildcard {TOP + '*'!r}"]] == [TOP,
                                                                  TOP + "x"]
        assert {t for t, _ in got[r"regexp '\\d+'"]} == set()  # ١٢٣ is not \d
        assert {t for t, _ in got[r"regexp 'x\\d'"]} == {"x1"}
        assert "é" not in {t for t, _ in got[r"regexp '\\w+'"]}
        assert got["fuzzy 'word1'"] and got["suggest ''"]


def test_whole_queries_start_no_spark_job(spark, saved):
    s = Searcher(saved)
    qs = [WildcardQuery("text", "caf*"), FuzzyQuery("text", "word1", 0.5),
          RegexpQuery("text", "x."), RangeQuery("text", "c", "d")]
    with _no_spark_job(spark, "lx-queries"):
        got = [s.top_docs(q, k=5) for q in qs]
    dist = Searcher(saved, distributed=True)
    assert got == [dist.top_docs(q, k=5) for q in qs]
    assert all(got)


def test_uncompilable_regexp_raises_on_saved_layout(spark, saved):
    """Java-only syntax that Python ``re`` rejects raises ValueError
    naming the pattern; it never falls back to the Spark scan."""
    with _no_spark_job(spark, "lx-bad-regexp"):
        with pytest.raises(ValueError, match=r"\\p\{L\}"):
            Searcher(saved)._expand_regexp(RegexpQuery("text", r"\p{L}+"))


def test_read_range_prunes_row_groups(tmp_path, monkeypatch):
    """``read_range`` equals a brute filter for every (lo, hi, prefix)
    probe — with one-row row groups, so each probe prunes — and never
    treats ``prefix + U+10FFFF`` as the prefix's upper bound."""
    rows = sorted(
        [("a", t) for t in ("x", "y")]
        + [("text", t) for t in VOCAB + ["pre" + TOP[3:] * 2, "prf", "pra"]]
        + [("title", t) for t in ("pre", "z")]
    )
    d = tmp_path / "term_stats"
    d.mkdir()
    tbl = pa.table({"field": [f for f, _ in rows],
                    "term": [t for _, t in rows],
                    "df": list(range(len(rows)))})
    pq.write_table(tbl.slice(0, 20), d / "part-0.parquet", row_group_size=1)
    pq.write_table(tbl.slice(20), d / "part-1.parquet", row_group_size=1)
    reader = SavedTable([str(d)])
    bounds = [None, "c", "pre", TOP, "word1", "\U0010ffff"]
    for lo, hi, prefix in itertools.product(
        bounds, bounds, ("", "p", "pre", TOP, "日", "zz")
    ):
        got = sorted(
            (r["field"], r["term"], r["df"])
            for t in reader.read_range("text", lo, hi, prefix)
            for r in t.to_pylist()
        )
        want = sorted(
            (f, t, i) for i, (f, t) in enumerate(rows)
            if f == "text" and (lo is None or t >= lo)
            and (hi is None or t <= hi) and t.startswith(prefix)
        )
        assert got == want, (lo, hi, prefix)
    # a prefix seek reads only the groups that can hold the prefix
    read = []
    orig = pq.ParquetFile.read_row_groups

    def spy(self, groups, **kw):
        read.extend(groups)
        return orig(self, groups, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    got = [r["term"] for t in reader.read_range("text", prefix=TOP)
           for r in t.to_pylist()]
    assert got == [TOP, TOP + "x", "pre" + TOP[3:] * 2]
    assert len(read) == 3
