"""Physical-plan checks: the saved index's dictionary layout must let
Catalyst push query-term predicates into the parquet scan (the .tii
two-level-dictionary analog, SURVEY.md §4.2), and the source adapter must
resolve both table names and paths."""

import pytest
from pyspark.sql import functions as F

from montezuma_spark.fixtures import synth_web_pages_df
from montezuma_spark.index import FieldConfig, IndexConfig, Index, build_index
from montezuma_spark.sources import read_table, read_web_pages


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pushdown") / "ix")
    cfg = IndexConfig(fields=[FieldConfig("text", "text", "simple")],
                      shard_bits=5)
    build_index(spark, synth_web_pages_df(spark, 150), cfg, index_dir=d)
    return Index.load(spark, d)


def test_term_predicate_pushed_to_parquet_scan(spark, saved, capsys):
    scan = saved.postings.filter(
        (F.col("field") == "text") & (F.col("term") == "merge")
    ).select("term", "df", "postings")
    scan.explain("formatted")
    plan = capsys.readouterr().out
    assert "PushedFilters" in plan
    # the (field, term) equality predicates reach the scan
    assert "EqualTo(term,merge)" in plan or "EqualTo(term, merge)" in plan
    # column pruning: the positions sidecar is NOT read for this projection
    assert "positions" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_dictionary_range_predicate_pushed(spark, saved, capsys):
    """Range expansion scans term_stats with BETWEEN-style predicates that
    reach the parquet scan (min/max file pruning = the .tii seek analog) —
    never a full-vocabulary collect."""
    scan = (
        saved.term_stats.filter(
            (F.col("field") == "text")
            & (F.col("term") >= "key")
            & (F.col("term") <= "merge")
        )
        .select("term", "df")
    )
    scan.explain("formatted")
    plan = capsys.readouterr().out
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(term,key)" in plan.replace(" ", "")
    assert "LessThanOrEqual(term,merge)" in plan.replace(" ", "")


def test_dictionary_wildcard_prefix_pushed(spark, saved, capsys):
    """Wildcard expansion pushes the constant prefix as StringStartsWith
    into the term_stats scan; the regex runs only over the pruned slice."""
    from montezuma_spark.search.searcher import _wildcard_java_regex
    from montezuma_spark.search import WildcardQuery

    q = WildcardQuery("text", "me*e")
    scan = (
        saved.term_stats.filter(
            (F.col("field") == "text")
            & F.col("term").startswith("me")
            & F.col("term").rlike(_wildcard_java_regex(q.to_regex()))
        )
        .select("term", "df")
    )
    scan.explain("formatted")
    plan = capsys.readouterr().out
    assert "PushedFilters" in plan
    assert "StringStartsWith(term,me)" in plan.replace(" ", "")


def test_queries_answer_without_full_dictionary_collect(spark, saved):
    """The default Searcher must never materialize the vocabulary on the
    driver: term, range and wildcard queries all answer through filtered
    scans or point reads, and results match the distributed tier."""
    from montezuma_spark.search import (
        RangeQuery,
        Searcher,
        TermQuery,
        WildcardQuery,
    )

    s = Searcher(saved)
    dist = Searcher(saved, distributed=True)
    qs = [
        TermQuery("text", "merge"),
        RangeQuery("text", "key", "merge", True, True),
        WildcardQuery("text", "s*"),
        WildcardQuery("text", "*rge"),  # no constant prefix
    ]
    for q in qs:
        assert s.top_docs(q, k=10) == dist.top_docs(q, k=10), q
        assert s.matching_docids(q) == dist.matching_docids(q), q
    # the driver holds df only for the exact terms queried (expansions are
    # resolved by filtered scans), never the vocabulary
    assert set(s._df_cache) == {("text", "merge")}
    # absent terms resolve to df=0 without error
    assert s.top_docs(TermQuery("text", "zzzznotaterm"), k=10) == []


def test_wildcard_max_codepoint_prefix(spark, saved):
    """Prefix ending in U+10FFFF (no successor code point) must not crash
    wildcard expansion on either tier (advice fix)."""
    from montezuma_spark.search import Searcher, WildcardQuery

    q = WildcardQuery("text", "\U0010ffff*")
    assert Searcher(saved).matching_docids(q) == []
    assert Searcher(saved, distributed=True).matching_docids(q) == []


def test_doc_map_broadcast_join_plan(spark, saved, capsys):
    """The docid→key hydration join must broadcast the (tiny) result side,
    never shuffle doc_map."""
    hits = saved.spark.createDataFrame([(3,), (7,)], "docid long")
    out = F.broadcast(hits).join(saved.doc_map, "docid", "inner")
    out.explain("formatted")
    plan = capsys.readouterr().out
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_read_table_path_and_name(spark, tmp_path):
    df = synth_web_pages_df(spark, 10)
    p = str(tmp_path / "wp.parquet")
    df.write.parquet(p)
    # path form
    assert read_web_pages(spark, p).count() == 10
    # catalog/table-name form (temp view stands in for the Iceberg catalog)
    df.createOrReplaceTempView("wp_view")
    assert read_table(spark, "wp_view").count() == 10
    with pytest.raises(ValueError, match="missing required columns"):
        spark.range(3).write.parquet(str(tmp_path / "bad.parquet"))
        read_web_pages(spark, str(tmp_path / "bad.parquet"))


def test_rank_docids_no_single_partition_window(spark, capsys):
    """The ta_*/dd_* docid glue must assign rank-of-key WITHOUT a global
    Window.orderBy (Spark executes that as ONE task over the whole table —
    the round-2 verdict's 100-TB bottleneck). rank_docids range-partitions
    and uses a partition-LOCAL window, so the plan must contain no
    single-partition exchange."""
    from montezuma_spark.queries import rank_docids

    df = synth_web_pages_df(spark, 200).select("url", "text")
    out = rank_docids(df, "url")
    out.explain("formatted")
    plan = capsys.readouterr().out
    assert "Window" in plan                       # rank is still a window...
    assert "SinglePartition" not in plan          # ...but never on one task
    # correctness: identical to ROW_NUMBER() OVER (ORDER BY url) - 1
    import pandas as pd

    got = out.select("url", "docid").toPandas().sort_values(
        "url", ignore_index=True
    )
    assert list(got["docid"]) == list(range(len(got)))


def test_rank_docids_empty_and_single_row(spark):
    from montezuma_spark.queries import rank_docids

    empty = synth_web_pages_df(spark, 5).select("url").limit(0)
    assert rank_docids(empty, "url").count() == 0
    one = synth_web_pages_df(spark, 1).select("url")
    got = rank_docids(one, "url").collect()
    assert len(got) == 1 and got[0]["docid"] == 0


def test_doc_map_point_lookup_layout(spark, tmp_path, capsys):
    """Saved doc_map files hold disjoint docid ranges (docid point
    predicates prune to ≤1 file) and the equality predicate reaches the
    parquet scan — get_document at web scale is a point lookup, not a
    table scan."""
    import glob

    import pyarrow.parquet as pq

    d = str(tmp_path / "dm")
    cfg = IndexConfig(fields=[FieldConfig("text", "text", "simple")],
                      shard_bits=5)
    build_index(spark, synth_web_pages_df(spark, 200), cfg, index_dir=d)
    idx = Index.load(spark, d)
    scan = idx.doc_map.filter(F.col("docid") == 7)
    scan.explain("formatted")
    plan = capsys.readouterr().out
    assert "EqualTo(docid,7)" in plan.replace(" ", "")
    ranges = []
    for f in glob.glob(f"{d}/doc_map/*.parquet"):
        md = pq.read_metadata(f)
        i = md.schema.names.index("docid")
        lo = min(md.row_group(g).column(i).statistics.min
                 for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(i).statistics.max
                 for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    assert ranges
    for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
        assert h1 < l2, f"overlapping docid ranges: {(l1, h1)} {(l2, h2)}"
    # the lookup still answers correctly
    assert scan.count() == 1


def test_single_term_distributed_no_exchange(spark, saved, capsys):
    """Shard-pruned scheduling (round-3 verdict #1): a distributed
    single-term query evaluates ON the pruned scan partitions — no
    shuffle exchange, no spark.sql.shuffle.partitions-wide stage."""
    from montezuma_spark.search import Searcher, TermQuery

    s = Searcher(saved, distributed=True)
    df = s._execute(TermQuery("text", "merge"), 10)
    df.explain("formatted")
    plan = capsys.readouterr().out
    assert "Exchange" not in plan, plan
    got = [(r["docid"], r["score"]) for r in
           df.orderBy(F.desc("score"), F.asc("docid")).limit(10).collect()]
    assert got == Searcher(saved).top_docs(TermQuery("text", "merge"), k=10)


def test_multi_term_exchange_sized_to_match(spark, saved, capsys):
    """Multi-term distributed queries repartition by shard with a width
    from the dictionary match estimate — tiny matches run one task, never
    the session-wide shuffle width."""
    from montezuma_spark.search import MUST, Searcher, TermQuery, bool_query

    s = Searcher(saved, distributed=True)
    q = bool_query((TermQuery("text", "merge"), MUST),
                   (TermQuery("text", "spark"), MUST))
    df = s._execute(q, 10)
    df.explain("formatted")
    plan = capsys.readouterr().out
    # the estimate for this 150-doc corpus is far below one task's
    # budget → width 1, which Spark renders as a SinglePartition
    # repartition (hashpartitioning-to-1 is folded); either way it must
    # NOT be the session-wide shuffle width
    assert "REPARTITION_BY_NUM" in plan, plan
    assert ("SinglePartition, REPARTITION_BY_NUM" in plan
            or "hashpartitioning(shard" in plan), plan
    import re

    widths = re.findall(r"hashpartitioning\(shard#\d+L?, (\d+)\)", plan)
    assert all(w == "1" for w in widths), plan
    got = [(r["docid"], r["score"]) for r in
           df.orderBy(F.desc("score"), F.asc("docid")).limit(10).collect()]
    assert got == Searcher(saved).top_docs(q, k=10)


def test_local_tier_arrow_fetch(spark, saved):
    """Saved indexes serve the local tier with a driver-direct pyarrow
    read of the range-sorted postings files (no Spark job), and the rows
    must be identical to the pruned Spark scan's."""
    from montezuma_spark.search import (MUST, Searcher, TermQuery,
                                        WildcardQuery, bool_query)

    # cell cache off: this test pins the per-query arrow point read
    # itself (the cache layer is covered by tests/test_cell_cache.py)
    s = Searcher(saved, cell_cache_bytes=0)
    for q in (TermQuery("text", "merge"),
              bool_query((TermQuery("text", "merge"), MUST),
                         (TermQuery("text", "spark"), MUST)),
              WildcardQuery("text", "me*")):
        before = s._arrow_fetches
        got = s.top_docs(q, k=10)
        assert s._arrow_fetches == before + 1, "arrow path not taken"
        # parity vs the Spark scan (force it by nulling the dataset hook)
        plan, resolved, need_pos = s._compile(q, 10)
        apdf = s._fetch_postings_pdf(resolved, need_pos)
        spdf = s._filtered_postings(resolved, need_pos)[0].toPandas()
        key = ["field", "term", "shard"]
        a = apdf[key + ["df", "cf"]].sort_values(key).reset_index(drop=True)
        b = spdf[key + ["df", "cf"]].sort_values(key).reset_index(drop=True)
        assert a.equals(b), q
        assert got == Searcher(saved, distributed=True).top_docs(q, k=10)
    # an unsaved (in-memory) index must keep working through the scan
    from montezuma_spark.fixtures import synth_web_pages_df

    cfg = saved.config
    mem = build_index(spark, synth_web_pages_df(spark, 150), cfg)
    sm = Searcher(mem)
    assert sm.top_docs(TermQuery("text", "merge"), k=10) == \
        Searcher(saved).top_docs(TermQuery("text", "merge"), k=10)
    assert sm._arrow_fetches == 0


def test_saved_table_footer_pruned_reads(tmp_path):
    """The point reader prunes row groups by (field, term) min/max, keeps
    groups whose footer has no statistics, returns exactly the brute-force
    rows across several directories, and raises on a missing or empty
    directory instead of answering empty."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from montezuma_spark.codec.postings import BOOST_TERM
    from montezuma_spark.index.pointread import SavedTable

    rows = sorted(
        (f, t, i) for i, (f, t) in enumerate(
            [(f, f"t{j:03d}") for f in ("body", "title") for j in range(60)]
            + [("body", BOOST_TERM), ("title", BOOST_TERM)]
        )
    )
    dirs = []
    for n, stats in (("a", True), ("b", False)):
        d = tmp_path / n
        d.mkdir()
        part = rows[::2] if n == "a" else rows[1::2]
        tbl = pa.table({"field": [r[0] for r in part],
                        "term": [r[1] for r in part],
                        "df": [r[2] for r in part]})
        pq.write_table(tbl, str(d / "part-00000.parquet"),
                       row_group_size=8, write_statistics=stats)
        (d / "_SUCCESS").write_text("")
        dirs.append(str(d))
    needed = {"body": {"t001", "t002", "t050", "zzz"}, "title": {"t010"}}
    for boost in (None, BOOST_TERM):
        got = SavedTable(dirs).read(needed, ["field", "term", "df"], boost)
        want = sorted(r for r in rows if r[1] in needed.get(r[0], ())
                      or r[1] == boost)
        assert sorted(zip(*[got.column(c).to_pylist()
                            for c in ("field", "term", "df")])) == want
    # the statistics-bearing file prunes one term to its group (plus, at
    # most, the group straddling the body/title edge, whose term range
    # spans both fields); the statistics-free file keeps every group
    from montezuma_spark.index.pointread import _keep

    (_, _, ba), (_, _, bb) = SavedTable(dirs).footers()
    wants = [("title", ["t010"])]
    assert 1 <= sum(_keep(x, wants, None) for x in ba) <= 2 < len(ba)
    assert all(_keep(x, wants, None) for x in bb)
    (tmp_path / "b" / "part-00000.parquet").unlink()
    with pytest.raises(FileNotFoundError):
        SavedTable(dirs).read(needed, ["field", "term", "df"])
    with pytest.raises(FileNotFoundError):
        SavedTable([str(tmp_path / "gone")]).footers()
