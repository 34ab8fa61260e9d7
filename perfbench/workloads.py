"""The two workloads: bulk and stream.

Each one writes docs into an index and then queries what it wrote,
through one of the engine's two write paths:

- ``bulk``: saved builds ``read_table → extract_text → build_index(...,
  index_dir=)``, then queries on the last saved index: cold (terms new to
  the searcher), warm (a cached pool) and the distributed tier.
- ``stream``: ``IncrementalIndexer`` commits (update, add, ...), each
  followed by probe queries on a fresh ``Searcher`` over the unsaved union
  of the segments: a first pass, a repeat pass and one ``search_batch``.

Both record the same end-to-end metrics (run.py ``E2E``); what each one
means per workload is in README.md. Each ``run_<name>(ctx)`` is a closed
loop with one caller: it sends the next request only after the previous
reply, on one driver thread. It records metrics, sample counts, skipped
entries and op counts on ``ctx`` (see run.py ``Ctx``). Set-up is timed
separately and its input step repeated (``repeated_setup``), so
``setup_s`` holds a median.
"""

from __future__ import annotations

import bisect
import os
import shutil
import statistics
import time
import traceback

import numpy as np

import gen
import spans

FIELD = "text"
SHAPES = ("term", "and2", "or3", "phrase", "sloppy", "span", "prefix",
          "parsed")
# The cold log's fixed shape shares, one cycle of ten. Prefix queries are
# the one shape whose expansion is a Spark job (~10x the others' latency);
# at a 20% share query_p90_ms reads the middle of that mode instead of
# cutting through its lower tail, which swung ±15% between runs at 12.5%.
COLD_MIX = ("term", "and2", "or3", "prefix", "phrase", "sloppy", "span",
            "parsed", "term", "prefix")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants (the JVM, Spark's Python workers), counting the reaped
    children of each. Time the hypervisor gives to other guests (steal)
    is not in it, which is why the end-to-end timings use it."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    me = os.getpid()
    total = 0
    for pid, t in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        total += t if p == me else 0
    return total / tick


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    s = sorted(values)
    i = max(0, min(len(s) - 1, int(np.ceil(q / 100.0 * len(s))) - 1))
    return float(s[i])


def index_config():
    from montezuma_spark.index import FieldConfig, IndexConfig

    # "simple" = letter tokenizer + lowercase: the index holds exactly the
    # generator's words, so Σ df is checkable against the generator
    return IndexConfig(fields=[FieldConfig(FIELD, "text", "simple")],
                       key_col="url")


def dir_bytes(path: str) -> int:
    n = 0
    for root, _, files in os.walk(path):
        n += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return n


# what a loaded index reads; the build's resumable checkpoint
# (segment_cells/) is reported on its own as a layer metric
INDEX_TABLES = ("doc_map", "doc_lens", "postings", "term_stats", "meta.json")


def index_bytes(index_dir: str) -> int:
    return sum(dir_bytes(f"{index_dir}/{t}") if os.path.isdir(f"{index_dir}/{t}")
               else os.path.getsize(f"{index_dir}/{t}") for t in INDEX_TABLES)


def sum_df(index_dir: str) -> int:
    import pyarrow.dataset as ds

    tbl = ds.dataset(f"{index_dir}/term_stats", format="parquet").to_table(
        columns=["df"])
    return int(np.asarray(tbl.column("df")).sum())


def extract_docs(spark, path: str):
    """The web-pages table as the engine's docs: read_table → extract_text."""
    from montezuma_spark.sources import extract_text, read_table

    return extract_text(read_table(spark, path), "html", "text")


def build_from_parquet(spark, path: str, index_dir: str):
    """The saved build path: read_table → extract_text → build_index."""
    from montezuma_spark.index import build_index

    return build_index(spark, extract_docs(spark, path), index_config(),
                       index_dir=index_dir)


# ---------------------------------------------------------------- set-up
def repeated_setup(ctx, prep, reps: int = 3) -> object:
    """Run ``prep(r)`` (input generation) ``reps`` times; the medians go
    into the set-up totals. Returns the last rep's result."""
    times, cpus, out = [], [], None
    for r in range(reps):
        c0, t0 = tree_cpu_s(), time.perf_counter()
        out = prep(r)
        times.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s() - c0)
    ctx.setup_part("prep", statistics.median(times), statistics.median(cpus),
                   len(times))
    ctx.layer("setup.prep_first_s", times[0], "s")
    return out


def timed_setup(ctx, name: str, fn, *args):
    """A one-off set-up step, added to the set-up totals whole. Such a step is the
    session's first Spark work: it pays worker start and JIT, which a
    second run of it in the same process would not, so it runs once."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    out = fn(*args)
    ctx.spark.catalog.clearCache()
    ctx.setup_part(name, time.perf_counter() - t0, tree_cpu_s() - c0)
    return out


def guarded(ctx, what: str, fn, *args):
    """One op at the loop boundary: a raise counts as a failed op (with
    its traceback on stderr) and the run goes on."""
    try:
        return fn(*args)
    except Exception:
        ctx.fail(what)
        traceback.print_exc()
        return None


def new_tracer(ctx):
    """The traced run's span wrappers, installed once, off until a phase
    turns them on; None in an untraced run."""
    if not ctx.trace:
        return None
    tracer = spans.Tracer()
    spans.install_serving(tracer)
    spans.install_write(tracer)
    return tracer


def set_phase(tracer, prefix: str) -> None:
    if tracer is not None:
        tracer.stats.clear()
        tracer.top_s = 0.0
        tracer.wall_ms = 0.0
        tracer.prefix = prefix


def replay_layers(ctx, tracer, vocab, parquet: str) -> None:
    """Layers a Spark build hides: the extract pass alone (noop sink) and
    an in-driver replay of the per-partition segment function over a
    fixed corpus slice, whose tokenize / invert / encode calls can be
    wrapped (workers cannot)."""
    import pandas as pd

    from montezuma_spark.index import builder

    times = []
    for _ in range(2):
        t0 = time.perf_counter()
        extract_docs(ctx.spark, parquet).write.format("noop").mode(
            "overwrite").save()
        times.append(time.perf_counter() - t0)
    ctx.layer("sources.extract_s", statistics.median(times), "s", len(times))

    cfg = index_config()
    sl = gen.Corpus(ctx.seed, 0, ctx.sizes["replay_docs"]).table(vocab)
    pdf = pd.DataFrame({"key": sl["url"], "text": sl["text"]}).sort_values(
        "key", ignore_index=True)
    pdf["pid"] = 0
    set_phase(tracer, "replay.")
    tracer.enabled = True
    t0 = time.perf_counter()
    out = list(builder._segment_iter(
        iter([pdf]), cfg.fields, cfg.max_field_length, cfg.shard_bits,
        cfg.block_size, {0: 0}, codec=cfg.block_codec))
    wall = time.perf_counter() - t0
    tracer.enabled = False
    ctx.layer("replay.wall_s", wall, "s")
    ctx.layer("replay.coverage", tracer.top_s / wall if wall else 0.0, "ratio")
    ctx.layer("analysis.tokenize_s", tracer.self_s("replay.analysis.tokenize"), "s")
    ctx.layer("builder.invert_s", tracer.self_s("replay.builder.invert"), "s")
    ctx.layer("codec.encode_s", tracer.self_s("replay.codec.encode"), "s")
    ctx.layer("codec.encode_postings",
              tracer.stats.get("replay.codec.encode_postings", 0), "count")
    ctx.layer("replay.cells", int(sum(len(f) for f in out)), "count")
    set_phase(tracer, "")


def write_layers(ctx, tracer, phase: str, n: int, wall: float) -> None:
    """Per-build (or per-commit) means of the traced writes' layer spans."""
    p = phase + "."
    st = tracer.stats
    n = max(n, 1)
    ctx.layer("builder.segment_cpu_s", st.get(p + "builder.segment_ms", 0.0)
              / 1e3 / n, "s")
    ctx.layer("builder.segment_bytes", st.get(p + "builder.segment_bytes", 0.0)
              / n, "B")
    ctx.layer(p + "builder.segments_s",
              tracer.self_s(p + "builder.segments") / n, "s")
    ctx.layer("index.save_s", tracer.self_s(p + "index.save") / n, "s")
    ctx.layer("write.trace.coverage", tracer.top_s / wall if wall else 0.0,
              "ratio")


# ------------------------------------------------------------------ bulk
def run_bulk(ctx) -> None:
    """Saved builds, then cold, warm and distributed queries on the last
    one, in one Spark session."""
    S = ctx.sizes
    vocab = gen.vocabulary(ctx.seed)
    n = S["bulk_docs"]

    def prep(r):
        corpus = gen.Corpus(ctx.seed, 0, n)
        corpus.write(vocab, ctx.path("pages.parquet"))
        return corpus.distinct_terms()

    expect_df = repeated_setup(ctx, prep)
    timed_setup(ctx, "warmup", warm_up_bulk, ctx, vocab)
    ctx.end_setup()
    tracer = new_tracer(ctx)
    ix = measure_builds(ctx, tracer, vocab, expect_df)
    serve_saved(ctx, tracer, ix, vocab)
    if tracer is not None:
        tracer.unpatch()


def warm_up_bulk(ctx, vocab) -> None:
    """Two saved builds of the corpus, one query per tier and one small
    search_batch: worker start and JIT, so the measured builds and queries
    do not pay them. The first build of a session takes ~4x the wall time
    of a later one, whatever the corpus size, and the second still ~1.3x
    the CPU time of the third, with twice its spread from run to run."""
    from montezuma_spark.index import Index
    from montezuma_spark.search.ast import TermQuery
    from montezuma_spark.search.searcher import Searcher

    ix = ctx.path("ix-warmup")
    for _ in range(2):
        shutil.rmtree(ix, ignore_errors=True)
        build_from_parquet(ctx.spark, ctx.path("pages.parquet"), ix)
    # ranks between the warm pool's and the cold log's: no measured query
    # uses them
    qs = {str(i): TermQuery(FIELD, vocab[200 + i]) for i in range(4)}
    for distributed in (False, True):
        s = Searcher(Index.load(ctx.spark, ix), distributed=distributed)
        s.top_docs(qs["0"], 10)
    s.search_batch(qs, 10).collect()
    ctx.spark.catalog.clearCache()
    shutil.rmtree(ix, ignore_errors=True)


def measure_builds(ctx, tracer, vocab, expect_df) -> str:
    """Saved builds of the corpus (one more, traced, in a traced run).
    Returns the last good build's directory, which the query phases
    serve."""
    S = ctx.sizes
    n = S["bulk_docs"]
    path = ctx.path("pages.parquet")
    if tracer is not None:
        replay_layers(ctx, tracer, vocab, path)
        set_phase(tracer, "build.")

    rates, traced_rates, bpp, cpus = [], [], [], []
    kept = None
    # traced runs: untraced, traced, untraced, ...
    for i in range(ctx.count("builds") + (tracer is not None)):
        traced = tracer is not None and i % 2 == 1
        ix = ctx.path(f"ix-build-{i}")
        if tracer is not None:
            tracer.enabled = traced
        ctx.attempt()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        idx = guarded(ctx, "build", build_from_parquet, ctx.spark, path, ix)
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        if tracer is not None:
            tracer.enabled = False
        if idx is None:
            continue
        (traced_rates if traced else rates).append(n / dt)
        if not traced:
            cpus.append(cpu)
        got_docs, got_df = idx.num_docs(), sum_df(ix)
        if got_docs != n or got_df != expect_df:
            ctx.fail(f"build check: num_docs {got_docs} vs {n}, "
                     f"Σdf {got_df} vs {expect_df}")
        bpp.append(index_bytes(ix) / max(got_df, 1))
        if traced:
            for t in INDEX_TABLES[:4] + ("segment_cells",):
                ctx.layer(f"index.bytes.{t}", dir_bytes(f"{ix}/{t}"), "B")
        ctx.spark.catalog.clearCache()
        if kept is not None:
            shutil.rmtree(kept, ignore_errors=True)
        kept = ix
    if kept is None:
        raise RuntimeError("every build failed")
    ctx.metric("write_cpu_ms_per_doc", sum(cpus) * 1e3 / (n * len(cpus)),
               "ms/doc", len(cpus))
    ctx.wall("write_docs_per_s", statistics.median(rates), "docs/s", len(rates))
    ctx.metric("index_bytes_per_posting", statistics.median(bpp),
               "B/posting", len(bpp))
    if tracer is not None:
        wall = sum(n / r for r in traced_rates)
        write_layers(ctx, tracer, "build", len(traced_rates), wall)
        ctx.layer("index.load_s", tracer.self_s("build.index.load")
                  / max(len(traced_rates), 1), "s")
        ctx.overhead(statistics.median(rates), statistics.median(traced_rates),
                     higher_is_better=True, name="build.tracing.overhead_pct")
        set_phase(tracer, "")
    return kept


class QueryLog:
    """Seeded query logs over the seed's vocabulary."""

    def __init__(self, seed: int, vocab: np.ndarray, head: int = 256):
        self.vocab = vocab
        self.sorted_vocab = sorted(vocab)
        self.rng = np.random.default_rng([seed, 2])
        # cold terms: a permutation of the non-head vocabulary, each word
        # used once (wildcards also retire every word under their prefix)
        self.cold_pool = list(self.rng.permutation(np.arange(head, gen.VOCAB)))
        self.used: set = set()

    def _next_cold(self) -> str:
        while True:
            w = self.vocab[self.cold_pool.pop()]
            if w not in self.used:
                self.used.add(w)
                return w

    def _retire_prefix(self, p: str) -> None:
        i = bisect.bisect_left(self.sorted_vocab, p)
        while i < len(self.sorted_vocab) and self.sorted_vocab[i].startswith(p):
            self.used.add(self.sorted_vocab[i])
            i += 1

    @staticmethod
    def make(shape: str, ws: list) -> tuple:
        """(shape, payload): a Query, or a query string for "parsed"."""
        from montezuma_spark.search.ast import (
            MUST,
            SHOULD,
            PhraseQuery,
            SpanNearQuery,
            TermQuery,
            WildcardQuery,
            bool_query,
        )

        a, b, c = ws
        q = {
            "term": lambda: TermQuery(FIELD, a),
            "and2": lambda: bool_query((TermQuery(FIELD, a), MUST),
                                       (TermQuery(FIELD, b), MUST)),
            "or3": lambda: bool_query((TermQuery(FIELD, a), SHOULD),
                                      (TermQuery(FIELD, b), SHOULD),
                                      (TermQuery(FIELD, c), SHOULD)),
            "phrase": lambda: PhraseQuery.of(FIELD, [a, b]),
            "sloppy": lambda: PhraseQuery.of(FIELD, [a, b], slop=3),
            "span": lambda: SpanNearQuery.of(FIELD, [a, b], slop=4),
            "prefix": lambda: WildcardQuery(FIELD, a[:-1] + "*"),
            "parsed": lambda: f"+{a} {b}",
        }[shape]()
        return shape, q

    def cold(self, n: int) -> list:
        out = []
        for i in range(n):
            shape = COLD_MIX[i % len(COLD_MIX)]
            if shape == "prefix":
                w = self._next_cold()
                self._retire_prefix(w[:-1])
                ws = [w, w, w]
            else:
                ws = [self._next_cold() for _ in range(3 if shape == "or3" else 2)]
                ws += [ws[0]] * (3 - len(ws))
            out.append(self.make(shape, ws))
        return out

    def warm_pool(self, bands: int = 8, band: int = 16) -> list:
        """64 queries over head terms, one per (shape, rank band), and one
        round of draws over them. Band m takes its words from fixed ranks
        in [m·band, (m+1)·band), so only the words change with the seed,
        not their frequencies. A round holds query j about 256·w_j times
        (w Zipf over the band, equal across shapes) in seeded order, so
        every round has the same mix; the phase runs whole rounds."""
        pool, counts = [], []
        for m in range(bands):
            for s, shape in enumerate(SHAPES):
                ranks = m * band + (5 * s + np.array([0, 3, 7])) % band
                pool.append(self.make(shape, [self.vocab[r] for r in ranks]))
                counts.append(1.0 / (m + 1))
        c = np.asarray(counts)
        c = np.maximum(1, np.rint(256 * c / c.sum())).astype(int)
        draws = self.rng.permutation(np.repeat(np.arange(len(pool)), c))
        return pool, draws


def resolve(item, parser):
    shape, q = item
    return parser.parse(q) if shape == "parsed" else q


def execute(searcher, item, parser) -> list:
    return [(int(d), float(s))
            for d, s in searcher.top_docs(resolve(item, parser), 10)]


def timed_query(ctx, tracer, traced, searcher, item, parser):
    if tracer is not None:
        tracer.enabled = traced
    ctx.attempt()
    t0 = time.perf_counter()
    res = guarded(ctx, f"query {item[0]}", execute, searcher, item, parser)
    dt = (time.perf_counter() - t0) * 1e3
    if tracer is not None:
        tracer.enabled = False
        if traced:
            tracer.wall_ms += dt
    return dt, res


def open_searcher(ctx, make):
    """``make()`` → a Searcher, its wall time recorded as one open."""
    t0 = time.perf_counter()
    s = guarded(ctx, "open", make)
    ctx.detail.setdefault("open_s", []).append(time.perf_counter() - t0)
    return s


def run_batch(ctx, searcher, items: dict, expect: dict, parser) -> tuple:
    """One ``search_batch`` of ``items`` ({qid: item}); every query's rows
    must equal ``expect[qid]``. Returns (queries answered, wall s)."""
    queries = {str(qi): resolve(it, parser) for qi, it in items.items()}
    ctx.attempt(len(queries))
    t0 = time.perf_counter()
    rows = guarded(ctx, "search_batch",
                   lambda: searcher.search_batch(queries, 10).collect())
    dt = time.perf_counter() - t0
    if rows is None:
        return 0, 0.0
    got: dict = {qi: [] for qi in items}
    for r in rows:
        got[int(r["qid"])].append((int(r["docid"]), float(r["score"])))
    for qi in items:
        if got[qi] != expect[qi]:
            ctx.fail(f"search_batch result differs from top_docs for query {qi}")
    return len(items), dt


def serve_saved(ctx, tracer, ix: str, vocab) -> None:
    from montezuma_spark.index import Index
    from montezuma_spark.search.parser import QueryParser
    from montezuma_spark.search.searcher import Searcher

    parser = QueryParser(default_field=FIELD, analyzer="simple")
    log = QueryLog(ctx.seed, vocab)
    cold_log = log.cold(ctx.count("cold_cycles") * len(COLD_MIX))
    pool, draws = log.warm_pool()

    # -- cold: every query's terms are new to the searcher
    searcher = open_searcher(ctx, lambda: Searcher(Index.load(ctx.spark, ix)))
    cold_res: dict = {}
    lat: dict = {True: [], False: []}
    by_shape: dict = {}
    set_phase(tracer, "cold.")
    c0 = tree_cpu_s()
    # whole mix cycles, so every run has the same shape mix
    for i, item in enumerate(cold_log):
        # alternate blocks of one mix cycle: traced, untraced, ...
        traced = tracer is not None and (i // len(COLD_MIX)) % 2 == 0
        dt, res = timed_query(ctx, tracer, traced, searcher, item, parser)
        if res is not None:
            cold_res[i] = res
            lat[traced].append(dt)
            if not traced:
                by_shape.setdefault(item[0], []).append(dt)
    ctx.metric("query_cpu_ms", (tree_cpu_s() - c0) * 1e3 / len(cold_log), "ms",
               len(cold_log))
    query_layers(ctx, tracer, "cold", lat, first=True)
    ctx.detail["cold_p50_ms_by_shape"] = {
        k: round(statistics.median(v), 2) for k, v in sorted(by_shape.items())}
    ctx.wall("cold_p50_ms", statistics.median(lat[False]), "ms", len(lat[False]))
    ctx.wall("cold_p90_ms", pct(lat[False], 90), "ms", len(lat[False]))
    ctx.spark.catalog.clearCache()

    # -- warm: a 64-query pool over head terms, cache filled untimed
    ref = {}
    for j, item in enumerate(pool):
        ctx.attempt()
        ref[j] = guarded(ctx, "warm fill", execute, searcher, item, parser)
    lat = {True: [], False: []}
    set_phase(tracer, "warm.")
    rounds = ctx.count("warm_rounds")
    c0 = tree_cpu_s()
    for _ in range(rounds):
        for i, j in enumerate(draws):
            traced = tracer is not None and i % 2 == 0
            dt, res = timed_query(ctx, tracer, traced, searcher, pool[j], parser)
            if res is not None:
                lat[traced].append(dt)
                if res != ref[j]:
                    ctx.fail(f"warm result drifted for pool query {j}")
    nq = rounds * len(draws)
    ctx.metric("repeat_query_cpu_ms", (tree_cpu_s() - c0) * 1e3 / nq, "ms", nq)
    query_layers(ctx, tracer, "warm", lat)
    ctx.wall("warm_p50_ms", statistics.median(lat[False]), "ms", len(lat[False]))
    ctx.wall("warm_p99_ms", pct(lat[False], 99), "ms", len(lat[False]))
    del searcher
    ctx.spark.catalog.clearCache()

    # -- spark: the distributed tier over queries already answered cold
    searcher = open_searcher(
        ctx, lambda: Searcher(Index.load(ctx.spark, ix), distributed=True))
    run_spark_phase(ctx, tracer, searcher, cold_log, cold_res, parser)
    ctx.layer("index.open_s", statistics.median(ctx.detail["open_s"]), "s",
              len(ctx.detail["open_s"]))
    ctx.spark.catalog.clearCache()


def query_layers(ctx, tracer, phase: str, lat, first: bool = False) -> None:
    """Per-query means of the traced queries' layer metrics, as
    ``<phase>.<name>``. The first-touch phase also reports the tracing
    overhead and the share of its wall time the spans cover."""
    if tracer is None:
        return
    tracer.prefix = ""
    st = tracer.stats
    nq = max(len(lat[True]), 1)
    p = phase + "."

    def g(name):
        return st.get(p + name, 0.0)

    def ms(span):
        return g(span + ":self_s") * 1e3 / nq

    ctx.layer(p + "parser.parse_us", g("parser.parse:self_s") * 1e6
              / max(g("parser.parse:calls"), 1), "us")
    ctx.layer(p + "searcher.compile_ms", ms("searcher.compile"), "ms")
    ctx.layer(p + "searcher.dict_ms", ms("searcher.dict"), "ms")
    ctx.layer(p + "searcher.dict_lookups", g("searcher.dict_lookups") / nq, "count")
    ctx.layer(p + "searcher.expand_jobs", g("searcher.expand_jobs") / nq, "count")
    ctx.layer(p + "searcher.expand_ms", ms("searcher.expand"), "ms")
    fetch_calls = g("searcher.fetch:calls") + g("searcher.fetch_scan:calls")
    ctx.layer(p + "searcher.fetch_calls", fetch_calls / nq, "count")
    ctx.layer(p + "searcher.fetch_bytes", g("searcher.fetch_bytes") / nq, "B")
    if fetch_calls:
        ctx.layer(p + "searcher.fetch_ms",
                  ms("searcher.fetch") + ms("searcher.fetch_scan"), "ms")
    else:
        ctx.skip_layer(p + "searcher.fetch_ms", "no fetch in this phase")
    req = g("cache.requested")
    ctx.layer(p + "cache.hit_ratio",
              (req - g("cache.missed")) / req if req else 0.0, "ratio")
    ctx.layer(p + "cache.resident_mb", tracer.cache_resident / 2**20, "MB")
    ctx.layer(p + "cache.evictions", g("cache.evictions"), "count")
    ctx.layer(p + "kernel.rows_ms", ms("kernel.rows"), "ms")
    ctx.layer(p + "kernel.eval_ms", ms("kernel.eval"), "ms")
    ctx.layer(p + "codec.decode_ms",
              ms("codec.decode") + ms("codec.decode_pos"), "ms")
    ctx.layer(p + "codec.decoded_postings", g("codec.decoded_postings") / nq,
              "count")
    sdf = g("kernel.sum_df")
    ctx.layer(p + "kernel.decode_ratio",
              g("codec.decoded_postings") / sdf if sdf else 0.0, "ratio")
    name = "query.trace.coverage" if first else p + "trace.coverage"
    ctx.layer(name, tracer.top_s * 1e3 / tracer.wall_ms if tracer.wall_ms
              else 0.0, "ratio")
    ctx.overhead(statistics.median(lat[False]), statistics.median(lat[True]),
                 higher_is_better=False,
                 name="tracing.overhead_pct" if first
                 else p + "tracing.overhead_pct")


class SparkCalls:
    """Job-group bookkeeping for traced calls on the distributed tier:
    per call (jobs, tasks, Σ job ms, wall ms), from the status tracker."""

    def __init__(self, ctx, tracer):
        self.sc = ctx.spark.sparkContext
        self.tracer = tracer
        self.calls: dict = {}
        self.group = 0

    def __call__(self, kind, fn, *args):
        """fn(*args) under its own job group, traced."""
        self.group += 1
        gid = f"perfbench-{self.group}"
        self.sc.setJobGroup(gid, f"perfbench {kind} {self.group}")
        self.tracer.enabled = True
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            wall = (time.perf_counter() - t0) * 1e3
            self.tracer.enabled = False
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.calls.setdefault(kind, []).append(
                (*spans.spark_job_stats(self.sc, gid), wall))

    def report(self, ctx, kind: str, prefix: str, per: str) -> None:
        cs = self.calls.get(kind)
        if not cs:
            ctx.skip_layer(f"{prefix}job_ms", f"no traced {kind} call")
            return
        med = [statistics.median(c[f] for c in cs) for f in range(4)]
        ctx.layer(f"{prefix}jobs_per_{per}", med[0], "count", len(cs))
        ctx.layer(f"{prefix}tasks_per_{per}", med[1], "count", len(cs))
        ctx.layer(prefix + "job_ms", med[2], "ms", len(cs))
        ctx.layer(prefix + "driver_ms", med[3] - med[2], "ms", len(cs))


def run_spark_phase(ctx, tracer, searcher, cold_log, cold_res, parser) -> None:
    S = ctx.sizes
    done = sorted(cold_res)
    set_phase(tracer, "spark.")
    tracked = SparkCalls(ctx, tracer) if tracer is not None else None
    lat: list = []

    def single(qi) -> None:
        ctx.attempt()
        t0 = time.perf_counter()
        args = (execute, searcher, cold_log[qi], parser)
        res = (guarded(ctx, "spark query", tracked, "single", *args)
               if tracked else guarded(ctx, "spark query", *args))
        dt = (time.perf_counter() - t0) * 1e3
        if res is None:
            return
        lat.append(dt)
        if res != cold_res[qi]:
            ctx.fail(f"spark result differs from cold for query {qi}")

    # rounds of one single term query then one batch, so both kinds are
    # spread over the phase (and over whatever else the host is doing);
    # batch b holds cold queries [b·bs, (b+1)·bs): whole mix cycles
    bs = S["batch_size"]
    nq, tb, batch_cpu = 0, 0.0, 0.0
    terms = [qi for qi in done if cold_log[qi][0] == "term"]
    rounds = ctx.count("spark_rounds")
    for b in range(rounds):
        single(terms[b % len(terms)])
        ids = [done[(b * bs + j) % len(done)] for j in range(bs)]
        c0 = tree_cpu_s()
        got, dt = run_batch(ctx, searcher, {qi: cold_log[qi] for qi in ids},
                            cold_res, parser)
        nq, tb = nq + got, tb + dt
        batch_cpu += tree_cpu_s() - c0
    ctx.metric("batch_query_cpu_ms", batch_cpu * 1e3 / max(nq, 1), "ms", nq)
    ctx.wall("batch_qps", nq / tb if tb else 0.0, "1/s", rounds)
    ctx.wall("spark_query_p50_ms", statistics.median(lat), "ms", len(lat))
    if tracked is not None:
        tracked.report(ctx, "single", "spark.", "query")
        st = tracer.stats
        nc = max(len(tracked.calls.get("single", [])), 1)
        ctx.layer("spark.searcher.compile_ms",
                  st.get("spark.searcher.compile:self_s", 0.0) * 1e3 / nc, "ms")
        ctx.layer("spark.searcher.dict_ms",
                  st.get("spark.searcher.dict:self_s", 0.0) * 1e3 / nc, "ms")
        set_phase(tracer, "")


# ---------------------------------------------------------------- stream
# probe ranks for the fresh queries: head, torso and tail terms, fixed so
# the probes' df (and cost) does not change with the seed; every other
# probe goes through the query parser
PROBE_RANKS = (10, 40, 150, 400, 1000, 2400)
INGEST_BASE = 10_000_000   # first key of the stream
MERGE_SKIP = ("log-tier merge off: one merge of two segments took 133-137 s "
              "on 4 cores at 200 and at 800 docs each, beyond a run's budget")


def run_stream(ctx) -> None:
    """Commits through IncrementalIndexer, each followed by probe queries
    on the unsaved union, in one Spark session."""
    vocab = gen.vocabulary(ctx.seed)
    commits = ctx.count("commits")
    batches = repeated_setup(
        ctx, lambda r: stream_batches(ctx, vocab, commits))
    inc, live = timed_setup(ctx, "ingest_base", ingest_base, ctx, batches[0])
    ctx.end_setup()
    tracer = new_tracer(ctx)
    if tracer is not None:
        replay_layers(ctx, tracer, vocab, batches[1][0])
    measure_stream(ctx, tracer, vocab, inc, live, batches[1:])
    if tracer is not None:
        tracer.unpatch()


def stream_batches(ctx, vocab, commits: int) -> list:
    """Every commit's input as (parquet path, generator parts, rows).
    Batch 0 is the base segment committed in set-up; commit c sends batch
    c + 1: B fresh docs, and for even c also the first 10% of the previous
    batch's keys with new text."""
    import pandas as pd

    B = ctx.sizes["stream_batch"]
    batches = []
    for b in range(commits + 1):
        parts = [gen.Corpus(ctx.seed, INGEST_BASE + b * B, B)]
        if b % 2:
            parts.append(gen.Corpus(ctx.seed, INGEST_BASE + (b - 1) * B,
                                    B // 10, rev=b))
        path = ctx.path(f"batch-{b}.parquet")
        frame = pd.concat([p.table(vocab) for p in parts], ignore_index=True)
        frame.to_parquet(path, index=False)
        batches.append((path, parts, len(frame)))
    return batches


def ingest_base(ctx, batch) -> tuple:
    """The base segment, so every measured commit leaves a multi-segment
    union. Returns the indexer and the live-docs record (key -> set of
    term ranks of its live text)."""
    from montezuma_spark.streaming.incremental import IncrementalIndexer

    inc = IncrementalIndexer(ctx.spark, ctx.path("inc"), index_config())
    inc.add_batch(extract_docs(ctx.spark, batch[0]))
    live: dict = {}
    committed(live, batch[1])
    return inc, live


def committed(live: dict, parts) -> None:
    for p in parts:
        for k, key in enumerate(p.keys()):
            live[key] = set(p.doc_ranks(k).tolist())


def probe_items(vocab) -> list:
    from montezuma_spark.search.ast import TermQuery

    return [("parsed", str(vocab[r])) if j % 2 else
            ("term", TermQuery(FIELD, vocab[r]))
            for j, r in enumerate(PROBE_RANKS)]


def measure_stream(ctx, tracer, vocab, inc, live, batches) -> None:
    """Commits (update, add, update, ...). After each: a fresh Searcher
    over the unsaved union of all segments, the probes once (first
    touch), again (repeat passes) and as one search_batch."""
    from montezuma_spark.search.ast import TermQuery
    from montezuma_spark.search.parser import QueryParser
    from montezuma_spark.search.searcher import Searcher

    S = ctx.sizes
    parser = QueryParser(default_field=FIELD, analyzer="simple")
    probes = probe_items(vocab)
    tracked = SparkCalls(ctx, tracer) if tracer is not None else None
    lat: dict = {True: [], False: []}
    rep: dict = {True: [], False: []}
    docs, write_s, write_cpu, traced_s, traced_n = 0, 0.0, 0.0, 0.0, 0
    query_cpu = {"probe.": 0.0, "repeat.": 0.0}
    nq, tb, batch_cpu = 0, 0.0, 0.0
    last = None
    stats: dict = {}

    def phase(prefix: str) -> None:
        """Switch the tracer's accumulators to ``prefix`` across commits."""
        if tracer is not None:
            stats[tracer.prefix] = (dict(tracer.stats), tracer.top_s,
                                    tracer.wall_ms)
            st, tracer.top_s, tracer.wall_ms = stats.get(prefix, ({}, 0.0, 0.0))
            tracer.stats.clear()
            tracer.stats.update(st)
            tracer.prefix = prefix

    for c, (path, parts, n) in enumerate(batches):
        # a traced run traces every commit: only an update deletes, and no
        # metric compares traced commits with untraced ones
        traced = tracer is not None
        phase("commit.")
        ctx.attempt()
        df = extract_docs(ctx.spark, path)
        op = inc.add_batch if c % 2 else inc.update_batch
        if tracer is not None:
            tracer.enabled = traced
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        ok = guarded(ctx, "commit", op, df)
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        if tracer is not None:
            tracer.enabled = False
        ctx.detail.setdefault("commit_s", []).append(round(dt, 3))
        if ok is None:
            continue
        docs += n
        write_s += dt
        write_cpu += cpu
        if traced:
            traced_s += dt
            traced_n += 1
        committed(live, parts)
        ctx.spark.catalog.clearCache()
        s = last = open_searcher(ctx, lambda: Searcher(inc.multi_index()))
        if s is None:
            continue
        first: dict = {}
        passes = [("probe.", lat)] + [("repeat.", rep)] * S["repeat_passes"]
        for rnd, (prefix, out) in enumerate(passes):
            phase(prefix)
            c0 = tree_cpu_s()
            for j, item in enumerate(probes):
                # alternate probes traced / untraced, the other way round
                # on the next commit
                tr = tracer is not None and j % 2 == c % 2
                if tr and rnd == 0:
                    # first touch: also count its Spark jobs; the wall time
                    # is taken inside the job group, before the tracker read
                    ctx.attempt()
                    res = guarded(ctx, "fresh query", tracked, "probe",
                                  execute, s, item, parser)
                    dt = tracked.calls["probe"][-1][3]
                    tracer.wall_ms += dt
                else:
                    dt, res = timed_query(ctx, tracer, tr, s, item, parser)
                if res is None:
                    continue
                out[tr].append(dt)
                ctx.detail.setdefault(prefix + "ms", []).append(round(dt, 1))
                if rnd == 0:
                    first[j] = res
                elif res != first.get(j):
                    ctx.fail(f"repeat probe {j} differs from its first answer")
            query_cpu[prefix] += tree_cpu_s() - c0
        phase("batch.")
        c0 = tree_cpu_s()
        got, dt = run_batch(ctx, s, {j: probes[j] for j in first}, first, parser)
        nq, tb, batch_cpu = nq + got, tb + dt, batch_cpu + tree_cpu_s() - c0
        ctx.spark.catalog.clearCache()
    phase("")
    nprobe = len(lat[False]) + len(lat[True])
    nrep = len(rep[False]) + len(rep[True])
    ctx.metric("write_cpu_ms_per_doc", write_cpu * 1e3 / max(docs, 1), "ms/doc",
               len(batches))
    ctx.metric("query_cpu_ms", query_cpu["probe."] * 1e3 / max(nprobe, 1), "ms",
               nprobe)
    ctx.metric("repeat_query_cpu_ms", query_cpu["repeat."] * 1e3 / max(nrep, 1),
               "ms", nrep)
    ctx.metric("batch_query_cpu_ms", batch_cpu * 1e3 / max(nq, 1), "ms", nq)
    ctx.wall("write_docs_per_s", docs / write_s if write_s else 0.0, "docs/s",
             len(batches))
    ctx.wall("probe_p50_ms", statistics.median(lat[False]), "ms", len(lat[False]))
    ctx.wall("probe_p90_ms", pct(lat[False], 90), "ms", len(lat[False]))
    ctx.wall("repeat_p50_ms", statistics.median(rep[False]), "ms", len(rep[False]))
    ctx.wall("batch_qps", nq / tb if tb else 0.0, "1/s", len(batches))
    segs = [e["dir"] for e in inc.manifest()["segments"]]
    ctx.metric("index_bytes_per_posting",
               sum(index_bytes(d) for d in segs) / max(sum(sum_df(d) for d in segs), 1),
               "B/posting", len(segs))

    # correctness: live-doc term counts against the generator, on the
    # searcher opened after the last commit
    s = last or Searcher(inc.multi_index())
    for r in PROBE_RANKS:
        ctx.attempt()
        got = guarded(ctx, "count", s.count, TermQuery(FIELD, vocab[r]))
        exp = sum(r in ranks for ranks in live.values())
        if got is not None and got != exp:
            ctx.fail(f"count({vocab[r]}) = {got}, live docs hold it {exp} times")
    ctx.spark.catalog.clearCache()
    opens = ctx.detail["open_s"]
    ctx.layer("index.open_s", statistics.median(opens), "s", len(opens))
    if tracer is None:
        return
    for prefix, (st, top_s, wall_ms) in stats.items():
        if not prefix:
            continue
        tracer.stats.clear()
        tracer.stats.update(st)
        tracer.top_s, tracer.wall_ms = top_s, wall_ms
        if prefix == "commit.":
            write_layers(ctx, tracer, "commit", traced_n, traced_s)
            ctx.layer("ingest.delete_s", tracer.self_s("commit.ingest.delete")
                      / max(tracer.calls("commit.ingest.delete"), 1), "s")
            ctx.layer("ingest.build_s", tracer.self_s("commit.builder.build")
                      / max(traced_n, 1), "s")
            ctx.layer("ingest.commits", len(batches), "count")
            ctx.layer("ingest.segments", len(segs), "count")
        elif prefix in ("probe.", "repeat."):
            query_layers(ctx, tracer, prefix[:-1],
                         lat if prefix == "probe." else rep,
                         first=prefix == "probe.")
    tracked.report(ctx, "probe", "probe.spark.", "query")
    ctx.skip_layer("ingest.merge_s", MERGE_SKIP)
    ctx.skip_layer("ingest.merges", MERGE_SKIP)


WORKLOADS = {"bulk": run_bulk, "stream": run_stream}
