"""In-process reads of posting blocks, tombstones and matched docs.

A collected top-k (:meth:`SearchEngine.search_topk`) needs the posting
blocks of a handful of terms and, on a chain with upserts, whether a few
dozen candidate ids are tombstoned; a dashboard panel over a query's
match set needs a column or two of just the matched docs. All are small
reads of files the catalog keeps POSIX-visible, so they run on the
driver with pyarrow and no Spark job — the way an Elasticsearch shard
scores and aggregates a query inside the process that holds it.

Every postings writer lays each file out sorted by (term, shard_id,
first_doc) in row groups of
:data:`~picdexer_spark.index.termdict.ROW_GROUP_BYTES`, so the footers'
per-row-group `term` [min, max] ranges are a terms index over the
blocks (:class:`~picdexer_spark.index.termdict.TermRanges`, the same
helper the term dictionary uses): a query reads only the row groups that
can hold its terms. Files without those ranges (no statistics, unsorted
groups) stay correct; they just let more groups through.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from picdexer_spark.index.termdict import TermRanges


def _parquet_files(dirs: list[str]) -> list[str]:
    return [f for d in dirs
            for f in sorted(glob.glob(os.path.join(d, "*.parquet")))]


class PostingsReader(TermRanges):
    """Footer term ranges over every file of one posting table (content
    or url field) across a snapshot chain, read once."""

    def __init__(self, dirs: list[str]):
        super().__init__(_parquet_files(dirs))

    def plan(self, terms, columns) -> tuple[list, int]:
        """(row groups that can hold `terms`, their compressed bytes of
        `columns` as the footers record them) — the read a query would
        make, priced before it is made."""
        groups = self.covering(terms)
        want = set(columns)
        nbytes = 0
        for fi, g, _lo, _hi in groups:
            rg = self._files[fi][1].row_group(g)
            for j in range(rg.num_columns):
                col = rg.column(j)
                if col.path_in_schema in want:
                    nbytes += col.total_compressed_size
        return groups, nbytes

    def blocks(self, groups, terms, columns) -> pa.Table:
        """`columns` of the posting blocks of `terms` in `groups` (at
        least one). A column some files lack comes back null, as the
        pinned-schema Spark read returns it."""
        tbl = pa.concat_tables(self.read(groups, columns),
                               promote_options="default")
        return tbl.filter(pc.is_in(
            tbl.column("term"),
            value_set=pa.array(sorted(set(terms)), pa.string())))


def num_rows(dirs: list[str]) -> int:
    """Rows of the parquet files in `dirs`, summed from their footers."""
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in _parquet_files(dirs))


def tombstoned(dirs: list[str], ids: np.ndarray) -> np.ndarray:
    """The ids among `ids` that the `deletes` tables in `dirs` tombstone.
    The scan streams batches through an `isin` filter (row groups whose
    doc_id range misses every id are skipped), so only matching rows are
    held — never the whole tombstone set."""
    files = _parquet_files(dirs)
    if not files or ids.size == 0:
        return np.zeros(0, np.int64)
    got = ds.dataset(files, format="parquet").to_table(
        columns=["doc_id"], filter=ds.field("doc_id").isin(ids))
    return got.column("doc_id").to_numpy().astype(np.int64)


def live_docs_rows(docs_dirs: list[str], deletes_dirs: list[str],
                   ids: pa.ChunkedArray, columns: list[str]) -> pa.Table:
    """`columns` of the live docs whose doc_id is among `ids`: the docs
    files in `docs_dirs` scanned through an `isin` filter, minus the ids
    the `deletes` tables in `deletes_dirs` tombstone. The rows are those
    of the Spark semi-join of the live-docs view with `ids`, in no
    particular order."""
    ids = pc.drop_null(ids).to_numpy().astype(np.int64)
    got = ds.dataset(_parquet_files(docs_dirs), format="parquet").to_table(
        columns=list(dict.fromkeys(["doc_id", *columns])),
        filter=ds.field("doc_id").isin(ids))
    dead = tombstoned(deletes_dirs, got.column("doc_id").to_numpy())
    if dead.size:
        got = got.filter(pc.invert(pc.is_in(got.column("doc_id"),
                                            value_set=pa.array(dead))))
    return got.select(columns)
