"""1M-doc robustness run — the scripted form of BASELINE.md's prose claim
(round-2 verdict item #8): build the inverted index over a deterministic
1M-doc / ~80M-token synthetic corpus at local[N], then time hot-term and
boolean queries through the DISTRIBUTED per-shard kernel. Emits one JSON
line:

    ROBUSTNESS_RESULT {"n_docs":..., "build_seconds":..., "docs_per_sec":...,
                       "bytes_per_posting":..., "q_hot_term":..., ...}

Usage: python tools/robustness_arm.py [n_docs] [cores]
(defaults 1_000_000 docs, all CPUs). bench.py runs it as a subprocess when
BENCH_ROBUSTNESS=1 so the per-round driver artifact carries the numbers.

At >=10M docs set SPARK_DRIVER_MEM=48g: the default 8g local-mode heap
cannot hold the corpus persist and partitions silently recompute inside
the timed build (MemoryStore warnings), biasing throughput downward.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else (os.cpu_count() or 8)

    from pyspark.sql import functions as F

    from bench import _fresh_spark, _warm_workers
    from montezuma_spark.fixtures import synth_corpus_spark
    from montezuma_spark.index import FieldConfig, IndexConfig, build_index
    from montezuma_spark.search import (
        MUST,
        FuzzyQuery,
        PhraseQuery,
        Searcher,
        SpanNearQuery,
        TermQuery,
        WildcardQuery,
        bool_query,
    )

    spark = _fresh_spark(cores, f"robustness-{n_docs}")
    _warm_workers(spark, cores)
    parts = cores * 4
    docs = synth_corpus_spark(spark, n_docs, parts=parts).persist()
    docs.count()

    cfg = IndexConfig(
        fields=[FieldConfig("text", "text", "simple")],
        key_col="url", shard_bits=15, num_partitions=parts,
    )
    t0 = time.time()
    idx = build_index(spark, docs, cfg)
    agg = idx.postings.agg(
        F.sum("df").alias("postings"),
        (F.sum(F.length("postings")) + F.sum(F.length("positions"))).alias(
            "bytes"
        ),
    ).collect()[0]
    build_s = time.time() - t0
    st = idx.stats["text"]

    # hottest term = highest df (the worst-case posting list)
    hot = idx.term_stats.orderBy(F.desc("df")).limit(3).collect()
    hot_term = hot[0]["term"]
    second = hot[1]["term"] if len(hot) > 1 else hot_term
    third = hot[2]["term"] if len(hot) > 2 else second

    # SERVE FROM THE SAVED LAYOUT: a real deployment queries an index on
    # storage, where the size-gated local tier reads the matched cells
    # with pyarrow row-group pruning (Searcher._fetch_postings_pdf). An
    # unsaved in-memory index has no parquet layout to prune, so its
    # "local" tier degrades to a scheduled Spark collect (~0.5 s floor at
    # 1M docs) — that number is the fallback, not the serving claim; it
    # is reported alongside as *_spark for disclosure.
    import shutil
    import tempfile

    from montezuma_spark.index import Index

    save_dir = tempfile.mkdtemp(prefix="robustness_ix_")
    t0 = time.time()
    idx.save(save_dir)
    save_s = time.time() - t0
    served = Index.load(spark, save_dir)

    s = Searcher(served)  # default tier: pushdown + size-gated point read
    s_dist = Searcher(idx)  # unsaved fallback tier (disclosure)
    queries = {
        "q_hot_term": TermQuery("text", hot_term),
        "q_hot_bool_and": bool_query(
            (TermQuery("text", hot_term), MUST),
            (TermQuery("text", second), MUST),
        ),
        # positions path at scale: the two hottest terms through the
        # sloppy-phrase and span-near kernels (positions column fetch +
        # flat-decode dominate — the worst positional case)
        "q_hot_phrase": PhraseQuery.of(
            "text", [hot_term, second], slop=4
        ),
        # exact phrase over the three hottest terms: a three-way
        # intersection of the biggest position lists
        "q_hot_phrase3": PhraseQuery.of(
            "text", [hot_term, second, third]
        ),
        "q_hot_span": SpanNearQuery.of(
            "text", [hot_term, second], slop=4
        ),
        # dictionary expansion: the saved tier seeks term_stats
        # driver-direct (a prefix range read; for fuzzy, a numpy
        # Levenshtein over the length-pruned field slice), the *_spark
        # arm runs the term_stats scan
        "q_wildcard": WildcardQuery("text", hot_term[:-1] + "*"),
        "q_fuzzy": FuzzyQuery("text", hot_term, 0.6),
    }
    import statistics

    def _median_time(searcher, q, reps=3):
        ts = []
        for _ in range(reps):
            t1 = time.time()
            searcher.top_docs(q, k=10)
            ts.append(time.time() - t1)
        return round(statistics.median(ts), 4)

    timings = {}
    for name, q in queries.items():
        # cold = a fresh Searcher's first answer (dictionary seek + arrow
        # point read + parse + decode); warm = repeat-query median on the
        # shared Searcher, where the cell LRU cache serves the postings
        # (kernel-only cost). Both are the serving claim — disclosed
        # separately now that the default tier caches cells.
        s_cold = Searcher(served)
        t1 = time.time()
        got = s_cold.top_docs(q, k=10)
        timings[name + "_cold"] = round(time.time() - t1, 4)
        timings[name] = _median_time(s, q)
        want = s_dist.top_docs(q, k=10)  # warm + serving-tier identity
        timings[name + "_spark"] = _median_time(s_dist, q)
        assert [d for d, _ in got] == [d for d, _ in want], name

    # batch serving throughput at 1M docs: the 64 highest-df terms as ONE
    # distributed job (search_batch) — queries/sec, the query-log number
    top = served.term_stats.orderBy(F.desc("df"), F.asc("term")).limit(64).collect()
    log_q = {f"t{i:02d}": TermQuery("text", r["term"]) for i, r in enumerate(top)}
    sd = Searcher(served, distributed=True)
    sd.search_batch(dict(list(log_q.items())[:2]), k=10).count()  # warm
    t1 = time.time()
    n_qids = sd.search_batch(log_q, k=10).select("qid").distinct().count()
    dt = time.time() - t1
    assert n_qids == len(log_q)  # EVERY query matched something
    timings["q_batch_n"] = len(log_q)
    timings["q_batch_total"] = round(dt, 4)
    timings["q_batch_qps"] = round(len(log_q) / dt, 1)
    shutil.rmtree(save_dir, ignore_errors=True)

    out = {
        "n_docs": st["num_docs"],
        "total_tokens": st["total_tokens"],
        "total_postings": int(agg["postings"]),
        "build_seconds": round(build_s, 2),
        "save_seconds": round(save_s, 2),
        "docs_per_sec": round(st["num_docs"] / build_s, 1),
        "tokens_per_sec": round(st["total_tokens"] / build_s, 1),
        "bytes_per_posting": round(
            float(agg["bytes"]) / max(int(agg["postings"]), 1), 3
        ),
        "hot_term": hot_term,
        "hot_term_df": int(hot[0]["df"]),
        "cores": cores,
        **timings,
    }
    print("ROBUSTNESS_RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
