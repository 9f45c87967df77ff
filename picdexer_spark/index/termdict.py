"""Term dictionary: the `term_stats` table format, its writer and its
driver-side reader.

`term_stats` holds one row per distinct term — (term, df, cf) — for the
content field and the `\\x1furl\\x1f`-namespaced url field alike. Every
writer (full builds, incremental merges) goes through
:func:`write_term_stats`, which lays each file out sorted by term in
row groups of about :data:`ROW_GROUP_BYTES`. The parquet footer then
carries a per-row-group [min, max] `term` range: the same two-level
shape as Lucene's terms index (an in-memory index over on-disk term
blocks) that Elasticsearch resolves query terms through without any
distributed work.

:class:`TermDictionary` reads every footer once and answers df lookups
and prefix scans by reading, with pyarrow, only the row groups whose
range can hold a wanted term. It is correct on any layout: a file
written before the sort (one row group spanning the whole alphabet, or
unsorted groups) just has wider ranges, so more groups are read.
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


class TermDictionary:
    """Driver-side reader over one term_stats directory.

    Construction reads only the parquet footers: :attr:`num_rows` (the
    vocabulary size) and, per row group, its `term` [min, max] range. A
    row group without min/max statistics counts as covering every term.
    """

    def __init__(self, path: str):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no parquet files under {path}")
        self._files: list[tuple[str, pq.FileMetaData]] = []
        #: (file index, row-group index, min term | None, max term | None)
        self._groups: list[tuple[int, int, str | None, str | None]] = []
        self.num_rows = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
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

    def _read(self, groups) -> pa.Table:
        """(term, df) rows of the given row groups, one read per file."""
        by_file: dict[int, list[int]] = {}
        for fi, g, _lo, _hi in groups:
            by_file.setdefault(fi, []).append(g)
        parts = []
        for fi, rgs in by_file.items():
            f, md = self._files[fi]
            parts.append(pq.ParquetFile(f, metadata=md).read_row_groups(
                rgs, columns=["term", "df"]))
        if not parts:
            return pa.table({"term": pa.array([], pa.string()),
                             "df": pa.array([], pa.int64())})
        return pa.concat_tables(parts)

    def read_all(self) -> dict[str, int]:
        """The whole vocabulary as {term: df} (callers gate on
        :attr:`num_rows` first)."""
        tbl = self._read(self._groups)
        return dict(zip(tbl.column("term").to_pylist(),
                        tbl.column("df").to_pylist()))

    def dfs(self, terms) -> dict[str, int]:
        """{term: df} for the given terms that are in the dictionary."""
        want = sorted(set(terms))
        if not want:
            return {}

        def covers(lo, hi):
            if lo is None:
                return True
            i = bisect_left(want, lo)
            return i < len(want) and want[i] <= hi

        groups = [g for g in self._groups if covers(g[2], g[3])]
        tbl = self._read(groups)
        tbl = tbl.filter(pc.is_in(tbl.column("term"),
                                  value_set=pa.array(want, pa.string())))
        return dict(zip(tbl.column("term").to_pylist(),
                        tbl.column("df").to_pylist()))

    def prefix(self, prefix: str) -> pa.Table:
        """(term, df) rows of every term starting with `prefix`, in no
        particular order. A row group can hold such a term iff its max is
        >= prefix and its min, cut to len(prefix), is <= prefix."""
        n = len(prefix)
        groups = [g for g in self._groups
                  if g[2] is None or (g[3] >= prefix and g[2][:n] <= prefix)]
        tbl = self._read(groups)
        if not prefix:
            return tbl
        return tbl.filter(pc.starts_with(tbl.column("term"), prefix))
