"""Term dictionary: the `term_stats` table format, its writer and its
driver-side reader.

`term_stats` holds one row per distinct term — (term, df, cf) — for the
content field and the `\\x1furl\\x1f`-namespaced url field alike. Every
writer (full builds, incremental merges) goes through
:func:`write_term_stats`, which lays each file out sorted by term in
row groups of about :data:`ROW_GROUP_BYTES`. The parquet footer then
carries a per-row-group [min, max] `term` range: the same two-level
shape as Lucene's terms index (an in-memory index over on-disk term
blocks) that Elasticsearch resolves every query term and multi-term
rewrite through without any distributed work.

:class:`TermDictionary` reads every footer once and is the engine's only
dictionary reader. :meth:`~TermDictionary.dfs` answers df lookups by
reading only the row groups whose range can hold a wanted term;
:meth:`~TermDictionary.scan` yields, one row group at a time, the rows
under a prefix (the empty prefix sweeps the whole dictionary), and
:meth:`~TermDictionary.top` folds that scan into a running top-n, so
prefix, wildcard, regexp and fuzzy expansions hold one row group plus n
rows in memory whatever the vocabulary size. It is correct on any
layout: a file written before the sort (one row group spanning the
whole alphabet, or unsorted groups) just has wider ranges, so more
groups are read.

:class:`TermRanges` is the footer part on its own — per-row-group
`term` ranges over any set of parquet files — shared with the postings
reader (query/local.py), whose files are laid out the same way.
"""

from __future__ import annotations

import glob
import os
from bisect import bisect_left

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

#: pinned Spark schema of the table (a schema-less read costs one Spark
#: job for footer inference)
TERM_STATS_SCHEMA = "term string, df long, cf long"

#: parquet row-group target of a term_stats file (`parquet.block.size`):
#: the unit a df lookup or prefix scan reads. ~1 MB keeps one lookup in
#: the low milliseconds while a web-scale vocabulary still indexes into
#: only thousands of footer entries.
ROW_GROUP_BYTES = 1 << 20

#: a (term, df) table with no rows: the schema every read returns
EMPTY = pa.table({"term": pa.array([], pa.string()),
                  "df": pa.array([], pa.int64())})


def write_term_stats(df: DataFrame, path: str) -> None:
    """Write a (term, df, cf) frame as a term_stats table: each file
    sorted by term (a per-partition sort — no exchange, no extra job) in
    row groups of :data:`ROW_GROUP_BYTES`. Callers choose the file count
    through the frame's partitioning."""
    (
        df.select("term", "df", "cf")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .option("parquet.block.size", ROW_GROUP_BYTES)
        .parquet(path)
    )


class TermRanges:
    """Per-row-group `term` [min, max] ranges of a set of parquet files,
    read from their footers once. A row group without min/max statistics
    on `term` counts as covering every term, so any layout is answered
    correctly; a sorted one just lets fewer groups through."""

    def __init__(self, files: list[str]):
        self._files: list[tuple[str, pq.FileMetaData]] = []
        #: (file index, row-group index, min term | None, max term | None)
        self._groups: list[tuple[int, int, str | None, str | None]] = []
        self.num_rows = 0
        for f in files:
            with pq.ParquetFile(f) as pf:
                md = pf.metadata
            fi = len(self._files)
            self._files.append((f, md))
            self.num_rows += md.num_rows
            col = md.schema.names.index("term")
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                if rg.num_rows == 0:
                    continue
                st = rg.column(col).statistics
                if st is not None and st.has_min_max:
                    self._groups.append((fi, g, st.min, st.max))
                else:
                    self._groups.append((fi, g, None, None))

    def covering(self, terms) -> list[tuple[int, int, str | None, str | None]]:
        """The row groups whose range can hold one of `terms`."""
        want = sorted(set(terms))
        if not want:
            return []

        def covers(lo, hi):
            if lo is None:
                return True
            i = bisect_left(want, lo)
            return i < len(want) and want[i] <= hi

        return [g for g in self._groups if covers(g[2], g[3])]

    def read(self, groups, columns) -> list[pa.Table]:
        """`columns` of the given row groups, one table per file. A
        column a file lacks is left out of its table (callers unify with
        ``concat_tables(promote_options="default")``, which fills nulls)."""
        by_file: dict[int, list[int]] = {}
        for fi, g, _lo, _hi in groups:
            by_file.setdefault(fi, []).append(g)
        parts = []
        for fi, rgs in by_file.items():
            f, md = self._files[fi]
            names = md.schema.names
            with pq.ParquetFile(f, metadata=md) as pf:
                parts.append(pf.read_row_groups(
                    rgs, columns=[c for c in columns if c in names]))
        return parts


#: sort keys of the top_terms_N rewrite: df desc, ties by term
BY_DF = [("df", "descending"), ("term", "ascending")]
#: sort keys of a term-order walk
BY_TERM = [("term", "ascending")]


class TermDictionary(TermRanges):
    """Driver-side reader over one term_stats directory.

    Construction reads only the parquet footers (:class:`TermRanges`):
    :attr:`num_rows` (the vocabulary size) and, per row group, its `term`
    [min, max] range.
    """

    def __init__(self, path: str):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no parquet files under {path}")
        super().__init__(files)

    def _read(self, groups) -> pa.Table:
        """(term, df) rows of the given row groups, one read per file."""
        parts = self.read(groups, ["term", "df"])
        # "default" promotion unifies a writer's nullability with EMPTY's
        return pa.concat_tables([EMPTY, *parts], promote_options="default")

    def dfs(self, terms) -> dict[str, int]:
        """{term: df} for the given terms that are in the dictionary."""
        want = sorted(set(terms))
        if not want:
            return {}
        tbl = self._read(self.covering(want))
        tbl = tbl.filter(pc.is_in(tbl.column("term"),
                                  value_set=pa.array(want, pa.string())))
        return dict(zip(tbl.column("term").to_pylist(),
                        tbl.column("df").to_pylist()))

    def scan(self, prefix: str = ""):
        """Yield the (term, df) rows starting with `prefix`, one table per
        row group that can hold such a term, in no particular order. A
        row group can hold one iff its max is >= prefix and its min, cut
        to len(prefix), is <= prefix; the empty prefix visits every
        group. Each group is read on its own, so a caller that folds the
        rows into a bounded result holds one row group at a time."""
        n = len(prefix)
        for g in self._groups:
            if g[2] is None or (g[3] >= prefix and g[2][:n] <= prefix):
                tbl = self._read([g])
                if prefix:
                    tbl = tbl.filter(pc.starts_with(tbl.column("term"),
                                                    prefix))
                yield tbl

    def top(self, prefix: str, n: int, keys, keep=None) -> pa.Table:
        """The first `n` (term, df) rows under `prefix` in `keys` order
        (:data:`BY_DF` or :data:`BY_TERM`; term is unique, so the order
        is total), optionally only the rows for which `keep(table)`
        returns a true mask. The scan folds into a running top n: the
        driver holds one row group plus n rows."""
        best = EMPTY
        if n <= 0:
            return best
        for tbl in self.scan(prefix):
            if keep is not None:
                tbl = tbl.filter(keep(tbl))
            if tbl.num_rows > n:
                tbl = tbl.take(pc.select_k_unstable(tbl, n, keys))
            if tbl.num_rows:
                best = pa.concat_tables([best, tbl]).sort_by(keys).slice(0, n)
        return best
