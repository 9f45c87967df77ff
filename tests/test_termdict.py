"""Driver-side term dictionary (index/termdict.py).

Pins:

- an engine above its df-cache limit (`preload_stats_max_terms=0`)
  answers term_dfs / expand_prefix / expand_prefix_alpha / suggest /
  vocab_size exactly like the cached engine on a term_stats table spread
  over several files and row groups, both sorted per file (the layout
  every writer now produces) and unsorted (tables written before);
- on the sorted layout a one-term lookup reads at most one row group per
  file (the footer term ranges prune the rest);
- the builder's own files are sorted by term and keep footer term ranges;
- those lookups submit no Spark job at all.
"""

import glob
import os
import shutil

import numpy as np
import pyarrow.parquet as pq
import pytest

from picdexer_spark.fixtures.pages import gen_pages
from picdexer_spark.index.build import IndexConfig, build_index
from picdexer_spark.index.termdict import TermDictionary
from picdexer_spark.query.bm25 import SearchEngine
from picdexer_spark.sources.catalog import URL_FIELD_NS, IndexCatalog

N = 400
N_FILES = 3
ROWS_PER_GROUP = 400
PREFIXES = ("w1", "w", "rare", "zz", "", URL_FIELD_NS + "h")


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("tdidx"))
    build_index(spark, spark.createDataFrame(gen_pages(N, seed=37)), idx,
                IndexConfig(shard_range=128))
    return idx


def _relayout(src: str, dst: str, sort: bool) -> None:
    """Copy the index to `dst` and rewrite its term_stats with pyarrow:
    rows hash-spread over N_FILES files (as a Spark write leaves them),
    each file either sorted by term or in random order, in row groups of
    ROWS_PER_GROUP rows."""
    shutil.copytree(src, dst)
    ts = IndexCatalog(dst).nearest_table_path("term_stats")
    tbl = IndexCatalog.read_arrow(ts)
    shutil.rmtree(ts)
    os.makedirs(ts)
    rng = np.random.default_rng(7)
    part = rng.integers(0, N_FILES, tbl.num_rows)
    for i in range(N_FILES):
        f = tbl.filter(part == i)
        f = f.sort_by("term") if sort else f.take(
            rng.permutation(f.num_rows))
        pq.write_table(f, os.path.join(ts, f"part-{i:05d}.parquet"),
                       row_group_size=ROWS_PER_GROUP)


@pytest.mark.parametrize("sort", [True, False], ids=["sorted", "unsorted"])
def test_multi_file_row_groups_match_cached_path(spark, built, tmp_path,
                                                 monkeypatch, sort):
    idx = str(tmp_path / "idx")
    _relayout(built, idx, sort)
    cached = SearchEngine(spark, idx)
    dist = SearchEngine(spark, idx, preload_stats_max_terms=0)
    assert cached._df_cache is not None and dist._df_cache is None
    groups = dist.termdict._groups
    assert len({g[0] for g in groups}) == N_FILES
    assert len(groups) > 2 * N_FILES  # several row groups per file

    vocab = sorted(cached._df_cache)
    probe = vocab[::97] + ["zzznope", "w1", URL_FIELD_NS + "https",
                           URL_FIELD_NS + "zzznope", "\x1f", ""]
    want = cached.term_dfs(probe)
    assert URL_FIELD_NS + "https" in want and "zzznope" not in want
    assert dist.term_dfs(probe) == want
    for t in probe:
        assert dist.term_dfs([t]) == cached.term_dfs([t]), t
    for p in PREFIXES:
        assert dist.expand_prefix(p) == cached.expand_prefix(p), p
        assert dist.expand_prefix(p, 3) == cached.expand_prefix(p, 3), p
        assert dist.expand_prefix_alpha(p) == \
            cached.expand_prefix_alpha(p), p
    assert dist.suggest("w1", 7) == cached.suggest("w1", 7)
    assert dist.vocab_size() == cached.vocab_size()

    reads = []
    real_read = TermDictionary._read

    def spy(self, groups):
        reads.append(len(groups))
        return real_read(self, groups)

    monkeypatch.setattr(TermDictionary, "_read", spy)
    dist.termdict.dfs(["w1"])
    if sort:
        assert reads[0] <= N_FILES  # one candidate group per file at most
    else:
        assert reads[0] > N_FILES  # unsorted groups span the alphabet


def test_builder_writes_sorted_files(built):
    ts = IndexCatalog(built).nearest_table_path("term_stats")
    files = sorted(glob.glob(os.path.join(ts, "*.parquet")))
    assert files
    for f in files:
        terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms)
    d = TermDictionary(ts)
    assert d.num_rows == sum(pq.ParquetFile(f).metadata.num_rows
                             for f in files)
    assert all(g[2] is not None for g in d._groups)  # footer min/max kept


def test_uncached_lookups_submit_no_spark_job(spark, built):
    eng = SearchEngine(spark, built, preload_stats_max_terms=0)
    assert eng._df_cache is None
    sc = spark.sparkContext
    group = "termdict-no-job"
    sc.setJobGroup(group, "driver-side dictionary lookups")
    try:
        assert eng.term_dfs(["w1", "zzznope"])
        assert eng.expand_prefix("w1")
        assert eng.expand_prefix_alpha("w1")
        assert eng.suggest("w1", 5)
        assert eng.vocab_size() > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
