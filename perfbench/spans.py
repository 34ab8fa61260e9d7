"""Layer spans for the traced run: timing wrappers installed from outside.

The engine has no tracing of its own, so the traced run patches the
engine's layer entry points (module functions and methods) with wrappers
that record, per span name, the call count and the SELF time — the span's
duration minus the part covered by wrapped child calls on the same thread.
Counters are derived from each call's arguments and return value, after
the clock stops, and their cost is charged to no span.

Wrappers are installed once per traced run and toggled with ``enabled``:
when it is False a wrapper is one extra Python call.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.enabled = False
        self.prefix = ""            # e.g. "cold." while a serve phase runs
        self.stats: dict = defaultdict(float)
        self.top_s = 0.0            # time under outermost spans (main thread)
        self.wall_ms = 0.0          # wall time of the traced ops of a phase
        self.cache_resident = 0     # cell-cache bytes after the last put
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list = []

    # --------------------------------------------------------------- spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.stats[self.prefix + name] += value

    def wrap(self, fn, name: str, count=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            stack.append(0.0)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                child = stack.pop()
                if stack:
                    stack[-1] += dt
                elif threading.current_thread() is threading.main_thread():
                    tracer.top_s += dt
                tracer.add(name + ":self_s", dt - child)
                tracer.add(name + ":calls", 1)
            if count is not None:
                t1 = time.perf_counter()
                count(tracer, args, kwargs, out)
                if stack:  # counting is tracing cost, not the parent's
                    stack[-1] += time.perf_counter() - t1
            return out

        return wrapper

    def patch(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` by a span wrapper (restored by ``unpatch``)."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig
        w = self.wrap(fn, name, count)
        setattr(owner, attr, staticmethod(w) if isinstance(orig, staticmethod) else w)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def self_s(self, name: str) -> float:
        return self.stats.get(name + ":self_s", 0.0)

    def calls(self, name: str) -> float:
        return self.stats.get(name + ":calls", 0.0)


def _payload_bytes(pdf) -> int:
    n = 0
    for col in ("postings", "positions"):
        if col in pdf.columns and len(pdf):
            n += int(pdf[col].map(len).sum())
    return n


def install_serving(tr: Tracer) -> None:
    """Spans on the query path: parser, searcher (compile, dictionary,
    expansion, fetch, cell cache), kernel and codec decode."""
    from montezuma_spark.search import kernel, parser, searcher

    S = searcher.Searcher

    # dictionary seeks that miss the df memo (counted before the call)
    orig_lookup = S._lookup_dfs

    def lookup(self, pairs):
        pairs = set(pairs)
        if tr.enabled:
            tr.add("searcher.dict_lookups",
                   sum(p not in self._df_cache for p in pairs))
        return orig_lookup(self, pairs)

    S._lookup_dfs = tr.wrap(lookup, "searcher.dict")
    tr._patches.append((S, "_lookup_dfs", orig_lookup))
    tr.patch(S, "_pattern_scan", "searcher.expand",
             lambda t, a, k, o: t.add("searcher.expand_jobs", 1))
    tr.patch(S, "_compile", "searcher.compile")

    def count_fetch(t, args, kw, pdf):
        t.add("searcher.fetch_bytes", _payload_bytes(pdf))

    tr.patch(S, "_arrow_cells_pdf", "searcher.fetch", count_fetch)

    def count_scan(t, args, kw, pdf):
        # an index without a saved layout (the stream's union) fetches by
        # a Spark scan; a saved one reads through _arrow_cells_pdf, which
        # counts its own bytes
        if args[0].index._postings_dataset() is None:
            count_fetch(t, args, kw, pdf)

    tr.patch(S, "_fetch_postings_pdf", "searcher.fetch_scan", count_scan)

    def count_cache(t, args, kw, out):
        needed = args[1] if len(args) > 1 else kw["needed"]
        t.add("cache.requested", sum(len(ts) for ts in needed.values()))

    tr.patch(S, "_ensure_cells", "cache.ensure", count_cache)

    orig_put = S._cell_cache_put

    def cache_put(self, key, rows):
        if not tr.enabled:
            return orig_put(self, key, rows)
        before = len(self._cell_cache) + (0 if key in self._cell_cache else 1)
        orig_put(self, key, rows)
        tr.add("cache.missed", 1)
        tr.add("cache.evictions", before - len(self._cell_cache))
        tr.cache_resident = self._cell_cache_size

    S._cell_cache_put = cache_put
    tr._patches.append((S, "_cell_cache_put", orig_put))

    tr.patch(parser.QueryParser, "parse", "parser.parse")
    tr.patch(kernel, "rows_from_pandas", "kernel.rows")

    def count_eval(t, args, kw, out):
        plan = args[0]
        t.add("kernel.sum_df", sum(plan.df_est.values()))

    ev = tr.wrap(kernel.eval_local, "kernel.eval", count_eval)
    for mod in (kernel, searcher):
        tr._patches.append((mod, "eval_local", mod.eval_local))
        mod.eval_local = ev

    def count_dec(t, args, kw, out):
        t.add("codec.decoded_postings", int(len(out[0])))

    tr.patch(kernel, "decode_cell_rows", "codec.decode", count_dec)
    tr.patch(kernel, "decode_positions_rows", "codec.decode_pos")


def install_write(tr: Tracer) -> None:
    """Spans on both write paths: the saved build (``build_index``, as the
    bulk workload and each ``IncrementalIndexer`` commit call it), its
    segment stage, save/load, the in-driver replay's tokenize / invert /
    encode, and the streaming indexer's delete."""
    import montezuma_spark.index as index_pkg
    from montezuma_spark.analysis.analyzers import Analyzer
    from montezuma_spark.codec import postings as codec
    from montezuma_spark.index import builder, checkpoint
    from montezuma_spark.streaming import incremental

    def count_build(t, args, kw, idx):
        rep = idx.build_report
        t.add("builder.segment_ms", rep.get("segment_millis", 0))
        t.add("builder.segment_bytes", rep.get("segment_bytes", 0))

    tr.patch(index_pkg, "build_index", "builder.build", count_build)
    tr.patch(incremental, "build_index", "builder.build", count_build)
    tr.patch(checkpoint, "checkpointed_segments", "builder.segments")
    tr.patch(builder.Index, "save", "index.save")
    tr.patch(builder.Index, "load", "index.load")
    tr.patch(Analyzer, "tokens_series", "analysis.tokenize")
    tr.patch(builder, "_invert_chunk", "builder.invert")

    def count_enc(t, args, kw, out):
        t.add("codec.encode_postings", int(len(args[1])))

    tr.patch(codec, "encode_cells_batch", "codec.encode", count_enc)

    tr.patch(incremental.IncrementalIndexer, "delete_by_key", "ingest.delete")


def spark_job_stats(sc, group: str, timeout_s: float = 5.0) -> tuple:
    """(jobs, tasks, Σ job wall ms) for one job group, read from the status
    tracker once the listener bus has recorded every job's end."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    deadline = time.monotonic() + timeout_s
    while True:
        ids = tracker.getJobIdsForGroup(group)
        infos = [tracker.getJobInfo(j) for j in ids]
        done = all(i is not None and i.status in ("SUCCEEDED", "FAILED")
                   for i in infos)
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.01)
    tasks = 0
    job_ms = 0.0
    for info in infos:
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
        jd = store.job(info.jobId)
        sub, end = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and end.isDefined():
            job_ms += end.get().getTime() - sub.get().getTime()
    return len(ids), tasks, job_ms
