"""Driver-direct (field, term) point reads over saved parquet tables.

A saved index writes ``postings`` and ``term_stats`` range-partitioned and
sorted by (field, term) — the .tii two-level dictionary analog
(src/index/term-infos-io.lisp:19-36) — so a query's few terms live in a
few row groups. ``SavedTable`` answers "the rows of these (field, term)
pairs" from one such directory (a loaded index) or several (one per
segment of a streaming union) with file IO only, no Spark job:

1. each file's footer is read ONCE and cached as ``FileMetaData`` — not
   as an open handle, so a many-segment union pins no descriptor per file;
2. row groups are pruned by the footer's per-column ``field``/``term``
   min/max statistics (a group without statistics is kept);
3. the kept groups are read with ``read_row_groups(use_threads=False)``;
4. an exact ``field ==`` / ``term is_in`` mask selects the rows.

``read_range`` is the same reader's dictionary range seek — a (field,
[lo, hi], prefix) slice of ``term_stats`` for term expansion.

A listed directory that is missing or holds no parquet file RAISES: a
union opened before ``compact()``/``maybe_merge`` removed its segments must
never serve a silently empty answer.
"""

from __future__ import annotations

import os
from bisect import bisect_left

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _parquet_files(path: str) -> list[str]:
    """Data files of one saved table directory (Spark's ``part-*``;
    ``_SUCCESS``/``.crc`` side files skipped). Raises when the directory
    is gone or empty."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"saved table {path} is missing — its segment was merged or "
            "compacted away; reopen the index"
        ) from None
    files = sorted(
        os.path.join(path, n) for n in names
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    )
    if not files:
        raise FileNotFoundError(f"saved table {path} holds no parquet file")
    return files


def _bounds(rg, col: int) -> tuple:
    """(min, max) of a string column in one row group; (None, None) when
    the footer carries no usable statistics (the group is then kept)."""
    st = rg.column(col).statistics
    if st is None or not st.has_min_max:
        return None, None
    lo, hi = st.min, st.max
    if not (isinstance(lo, str) and isinstance(hi, str)):
        return None, None
    return lo, hi


def _inside(v: str, lo, hi) -> bool:
    return lo is None or lo <= v <= hi


class SavedTable:
    """Point reader over the parquet files of one or more saved table
    directories sharing the (field, term) range layout."""

    def __init__(self, dirs):
        self.dirs = tuple(dirs)
        # [(path, FileMetaData, [(field_lo, field_hi, term_lo, term_hi)]
        # per row group)]
        self._footers: list | None = None
        self._names: set | None = None

    def footers(self) -> list:
        if self._footers is None:
            out = []
            for d in self.dirs:
                for path in _parquet_files(d):
                    md = pq.read_metadata(path)
                    leaves = [md.schema.column(i).path
                              for i in range(md.num_columns)]
                    fi, ti = leaves.index("field"), leaves.index("term")
                    bounds = []
                    for g in range(md.num_row_groups):
                        rg = md.row_group(g)
                        bounds.append(_bounds(rg, fi) + _bounds(rg, ti))
                    out.append((path, md, bounds))
            self._footers = out
        return self._footers

    def column_names(self) -> set:
        """Columns present in EVERY file (pre-impact layouts lack the
        impact-front columns)."""
        if self._names is None:
            names = None
            for _, md, _ in self.footers():
                got = set(md.schema.to_arrow_schema().names)
                names = got if names is None else names & got
            self._names = names
        return self._names

    def read(self, needed: dict, columns: list,
             any_field_term: str | None = None) -> pa.Table:
        """Rows whose (field, term) is in ``needed`` ({field: terms}), plus
        every row whose term is ``any_field_term`` in any field."""
        wants = [(f, sorted(ts)) for f, ts in sorted(needed.items()) if ts]
        parts = []
        for path, md, bounds in self.footers():
            groups = [
                g for g, b in enumerate(bounds)
                if _keep(b, wants, any_field_term)
            ]
            if not groups:
                continue
            with pq.ParquetFile(path, metadata=md) as pf:
                tbl = pf.read_row_groups(
                    groups, columns=columns, use_threads=False
                )
            parts.append(tbl.filter(_mask(tbl, wants, any_field_term)))
        if not parts:
            md = self.footers()[0][1]
            return md.schema.to_arrow_schema().empty_table().select(columns)
        if len(parts) == 1:
            return parts[0]
        return pa.concat_tables(parts, promote_options="permissive")

    def read_range(self, field: str, lo: str | None = None,
                   hi: str | None = None, prefix: str = ""):
        """The dictionary range seek behind term expansion: yields, one
        table per file with a kept row group, the ``field, term, df`` rows
        of ``field`` with ``lo <= term <= hi`` (a None bound is open) and
        ``term`` starting with ``prefix``. Yielding per file bounds what a
        wide pattern holds on the driver to one file's pruned groups.

        A union yields one row per segment holding the term (callers sum
        df). The prefix never becomes an upper bound such as
        ``prefix + "\\U0010ffff"`` — that would cut
        ``prefix + "\\U0010ffff" + "x"``."""
        cols = ["field", "term", "df"]
        for path, md, bounds in self.footers():
            groups = [
                g for g, b in enumerate(bounds)
                if _keep_range(b, field, lo, hi, prefix)
            ]
            if not groups:
                continue
            with pq.ParquetFile(path, metadata=md) as pf:
                tbl = pf.read_row_groups(
                    groups, columns=cols, use_threads=False
                )
            tcol = tbl.column("term")
            m = pc.equal(tbl.column("field"), field)
            if lo is not None:
                m = pc.and_(m, pc.greater_equal(tcol, lo))
            if hi is not None:
                m = pc.and_(m, pc.less_equal(tcol, hi))
            if prefix:
                m = pc.and_(m, pc.starts_with(tcol, pattern=prefix))
            yield tbl.filter(m)


def _keep_range(bounds: tuple, field: str, lo, hi, prefix: str) -> bool:
    """Row-group pruning for ``read_range``: the group's field range must
    cover ``field`` and its term range must meet [lo, hi] and the terms
    starting with ``prefix``. Every such term sorts at or after
    ``prefix``, and before any ``tlo > prefix`` that does not itself start
    with ``prefix``."""
    flo, fhi, tlo, thi = bounds
    if not _inside(field, flo, fhi):
        return False
    if tlo is None:
        return True
    if (lo is not None and thi < lo) or (hi is not None and tlo > hi):
        return False
    if prefix and (thi < prefix
                   or (tlo > prefix and not tlo.startswith(prefix))):
        return False
    return True


def _keep(bounds: tuple, wants: list, any_field_term) -> bool:
    """Row-group pruning: a (field, term) row can only sit in a group
    whose field AND term ranges both cover it (the ranges are taken over
    all the group's rows, so this is conservative across field edges)."""
    flo, fhi, tlo, thi = bounds
    if any_field_term is not None and _inside(any_field_term, tlo, thi):
        return True
    for f, ts in wants:
        if _inside(f, flo, fhi):
            j = 0 if tlo is None else bisect_left(ts, tlo)
            if j < len(ts) and (thi is None or ts[j] <= thi):
                return True
    return False


def _mask(tbl: pa.Table, wants: list, any_field_term):
    """Exact row filter: ``field == f AND term IN ts`` per wanted field,
    OR ``term == any_field_term``."""
    fcol, tcol = tbl.column("field"), tbl.column("term")
    m = None
    for f, ts in wants:
        c = pc.and_(
            pc.equal(fcol, f),
            pc.is_in(tcol, value_set=pa.array(ts, type=pa.string())),
        )
        m = c if m is None else pc.or_(m, c)
    if any_field_term is not None:
        c = pc.equal(tcol, any_field_term)
        m = c if m is None else pc.or_(m, c)
    return m
