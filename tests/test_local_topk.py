"""In-process top-k (SearchEngine.search_topk, query/local.py).

Pins:

- `search_topk` returns exactly the rows of `search(...).collect()` on
  its Spark plan (the byte guard set to 0), scores included, for
  conjunctive, disjunctive (with min_should_match), groups and phrase
  queries, with and without pruning, across search_after pages, for
  absent terms and for k above the match count;
- on a multi-shard positional index written in many small row groups, a
  single-shard index, a two-snapshot chain with upserts (tombstones)
  before and after merge_chain, and postings files whose footers carry
  no `term` statistics (and lack columns the kernels never read);
- an engine built before merge_chain(expire=True) keeps reading the
  chain it was built on, every ancestor's tombstones included;
- every call submits no Spark job;
- the builder's and merge_chain's postings files are sorted by (term,
  shard_id, first_doc), so a one-term lookup reads at most one postings
  row group per file;
- above the byte guard the call runs the Spark plan and returns the same
  rows.
"""

import glob
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest

import picdexer_spark.index.build as build_mod
import picdexer_spark.query.bm25 as bm25
from picdexer_spark.fixtures.pages import gen_pages
from picdexer_spark.index.build import IndexConfig, build_index
from picdexer_spark.index.termdict import TermRanges
from picdexer_spark.query.bm25 import SearchEngine
from picdexer_spark.query.local import PostingsReader
from picdexer_spark.streaming.incremental import build_incremental, merge_chain

#: search() keyword arguments; each query runs at every k in KS
QUERIES = [
    dict(terms=["w0", "w5"], mode="disjunctive"),
    dict(terms=["w0", "w5"], mode="conjunctive"),
    dict(terms=["w3", "w17", "w40", "w88"], mode="disjunctive",
         min_should_match=2),
    dict(terms=["w3", "w17", "w40", "w88"], mode="disjunctive",
         min_should_match="75%"),
    dict(terms=["w9", "w11", "w60"], mode="disjunctive", prune=False),
    dict(terms=["w9", "w11"], mode="conjunctive", prune=False),
    dict(terms=["w1", "w7", "w3", "rareterm2"], mode="groups",
         groups=[["w1", "w7"], ["w3", "rareterm2"]]),
    dict(terms=["w2", "zzznope"], mode="disjunctive"),   # one absent term
    dict(terms=["w2", "zzznope"], mode="conjunctive"),   # matches nothing
    dict(terms=["zzznope"], mode="disjunctive"),
    dict(terms=["rareterm3"], mode="disjunctive"),       # k > matches
    dict(terms=["https", "example"], mode="disjunctive", field="url"),
]
PHRASES = [
    dict(terms=["w0", "w1"], mode="phrase"),
    dict(terms=["w2", "w0", "w1"], mode="phrase", slop=2),
]
KS = (1, 10, 400)


def _spark_rows(eng, q, k):
    """search()'s rows on its Spark plan (the byte guard set to 0)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(bm25, "LOCAL_TOPK_MAX_BYTES", 0)
        return [(int(r["doc_id"]), float(r["score"]))
                for r in eng.search(k=k, **q).collect()]


def _check_parity(eng, queries):
    nonempty = 0
    for q in queries:
        for k in KS:
            got = eng.search_topk(k=k, **q)
            assert got == _spark_rows(eng, q, k), (q, k)
            nonempty += bool(got)
    assert nonempty  # the shapes are not all vacuous


def _jobs_of(spark, fn):
    """Run fn() in a fresh job group; the Spark job ids it submitted."""
    sc = spark.sparkContext
    group = f"local-topk-{id(fn)}"
    sc.setJobGroup(group, "in-process top-k")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _assert_sorted(f):
    t = pq.read_table(f, columns=["term", "shard_id", "first_doc"])
    key = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    assert key == sorted(key), f


def _postings_files(idx):
    return sorted(glob.glob(os.path.join(
        idx, "snapshots", "*", "postings", "field=*", "*.parquet")))


@pytest.fixture(scope="module")
def multi(spark, tmp_path_factory):
    """4-shard positional index written in ~32 KB postings row groups,
    so files hold many groups and the footer ranges prune."""
    idx = str(tmp_path_factory.mktemp("ltk_multi"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(build_mod, "ROW_GROUP_BYTES", 32 << 10)
        build_index(spark, spark.createDataFrame(gen_pages(320, seed=53)),
                    idx, IndexConfig(shard_range=80, store_positions=True))
    return idx


@pytest.fixture(scope="module")
def chain(spark, tmp_path_factory):
    """Base build + an append carrying 40 upserts (same url, new text)
    and 60 new pages: a two-snapshot chain with tombstones."""
    idx = str(tmp_path_factory.mktemp("ltk_chain"))
    cfg = IndexConfig(shard_range=64)
    base = gen_pages(200, seed=59)
    build_incremental(spark, spark.createDataFrame(base), idx, cfg, "s1")
    up = base.iloc[:40].copy()
    up["text"] = gen_pages(40, seed=61)["text"].to_numpy()
    up["html"] = None
    new = gen_pages(60, seed=67)
    new["url"] = [f"https://fresh.example/p/{i}" for i in range(60)]
    build_incremental(spark, spark.createDataFrame(
        pd.concat([up, new], ignore_index=True)), idx, cfg, "s2")
    return idx


def test_parity_multi_shard_positional(spark, multi):
    eng = SearchEngine(spark, multi)
    assert eng.n_docs > eng.shard_range   # more than one shard
    assert eng.has_positions
    _check_parity(eng, QUERIES + PHRASES)


def test_parity_single_shard(spark, tmp_path):
    idx = str(tmp_path / "single")
    build_index(spark, spark.createDataFrame(gen_pages(150, seed=71)), idx,
                IndexConfig(shard_range=1 << 16))
    eng = SearchEngine(spark, idx)
    assert eng.n_docs <= eng.shard_range   # every doc in one shard
    _check_parity(eng, QUERIES)


def test_parity_chain_with_tombstones_and_after_merge(spark, chain,
                                                      tmp_path):
    eng = SearchEngine(spark, chain)
    assert len(eng.cat.parent_chain()) == 2
    assert sum(eng._tomb_counts.values()) == 40
    _check_parity(eng, QUERIES)
    before = {str(q) + str(k): eng.search_topk(k=k, **q)
              for q in QUERIES for k in KS}

    idx = str(tmp_path / "merged")
    shutil.copytree(chain, idx)
    assert merge_chain(spark, idx, max_segments=1)
    meng = SearchEngine(spark, idx)
    assert len(meng.cat.parent_chain()) == 1
    _check_parity(meng, QUERIES)
    assert {str(q) + str(k): meng.search_topk(k=k, **q)
            for q in QUERIES for k in KS} == before
    # merge_chain keeps the postings layout: sorted files, term ranges
    merged = glob.glob(os.path.join(idx, "snapshots", meng.snapshot_id,
                                    "postings", "field=*", "*.parquet"))
    assert merged
    for f in merged:
        _assert_sorted(f)
    assert all(g[2] is not None
               for g in meng._postings_reader(False)._groups)


def test_engine_keeps_its_chain_across_merge_expire(spark, chain,
                                                   tmp_path):
    """merge_chain(expire=True) drops the folded snapshots from the
    manifest but keeps their directories for engines pinned to them. Such
    an engine's search_topk must go on reading the chain it was built on
    — every snapshot's postings and every snapshot's tombstones — and
    equal its Spark plan, also when its first in-process call comes after
    the merge."""
    idx = str(tmp_path / "expire")
    shutil.copytree(chain, idx)
    up = gen_pages(200, seed=59).iloc[40:60].copy()   # upserts of s1 docs
    up["text"] = gen_pages(20, seed=73)["text"].to_numpy()
    up["html"] = None
    build_incremental(spark, spark.createDataFrame(up), idx,
                      IndexConfig(shard_range=64), "s3")
    # the Spark plan's answers before the merge, from a second engine on
    # the same snapshot: `eng` reads no footer until after the merge
    other = SearchEngine(spark, idx)
    before = {str(q) + str(k): _spark_rows(other, q, k)
              for q in QUERIES for k in KS}
    eng = SearchEngine(spark, idx)
    assert len(eng.cat.parent_chain()) == 3
    assert sum(eng._tomb_counts.values()) == 60   # 40 in s2, 20 in s3
    assert not eng._readers   # no footers read before the merge

    assert merge_chain(spark, idx, max_segments=1, expire=True)
    assert eng.cat.parent_chain(eng.snapshot_id) == [eng.snapshot_id]
    _check_parity(eng, QUERIES)
    assert {str(q) + str(k): eng.search_topk(k=k, **q)
            for q in QUERIES for k in KS} == before


def test_parity_footers_without_term_ranges(spark, multi, tmp_path):
    """Postings files rewritten with no statistics on `term` and without
    the columns no kernel reads: every row group covers every term, and
    the answers do not change."""
    idx = str(tmp_path / "nostats")
    shutil.copytree(multi, idx)
    for f in _postings_files(idx):
        tbl = pq.read_table(f).drop_columns(["block_no", "sum_tf"])
        pq.write_table(tbl, f, row_group_size=200,
                       write_statistics=[c for c in tbl.column_names
                                         if c != "term"])
        # the Hadoop checksum of the old bytes would fail the Spark read
        os.remove(os.path.join(os.path.dirname(f),
                               f".{os.path.basename(f)}.crc"))
    eng = SearchEngine(spark, idx)
    groups = eng._postings_reader(False)._groups
    assert len(groups) > len(_postings_files(idx))
    assert all(g[2] is None for g in groups)
    _check_parity(eng, QUERIES + PHRASES)


def test_after_cursor_pages(spark, multi):
    eng = SearchEngine(spark, multi)
    for q in (dict(terms=["w0", "w5"], mode="disjunctive"),
              dict(terms=["w0", "w5"], mode="conjunctive", prune=False),
              dict(terms=["w3", "w17", "w40"], mode="disjunctive",
                   min_should_match=2)):
        full = eng.search_topk(k=60, **q)
        assert len(full) == 60
        pages, after = [], None
        while len(pages) < 60:
            page = eng.search_topk(k=7, after=after, **q)
            assert page == _spark_rows(eng, {**q, "after": after}, 7)
            assert page
            pages += page
            after = (page[-1][1], page[-1][0])
        assert pages[:60] == full, q


def test_no_spark_job_per_call(spark, multi, chain):
    """search_topk submits no Spark job, on a multi-shard positional
    index and on a chain with tombstones alike."""
    engines = [SearchEngine(spark, multi), SearchEngine(spark, chain)]
    for eng in engines:
        eng.search_topk(["w0"], "disjunctive", 5)  # footers read once

    def calls():
        for eng in engines:
            for q in QUERIES + (PHRASES if eng.has_positions else []):
                eng.search_topk(k=10, **q)

    assert _jobs_of(spark, calls) == []


def test_one_term_lookup_reads_one_row_group_per_file(spark, multi,
                                                      monkeypatch):
    files = _postings_files(multi)
    text = [f for f in files if "field=text" in f]
    for f in files:  # the builder's layout: sorted, many groups, ranges
        _assert_sorted(f)
    assert sum(pq.ParquetFile(f).metadata.num_row_groups
               for f in text) > 4 * len(text)

    eng = SearchEngine(spark, multi)
    assert all(g[2] is not None for g in eng._postings_reader(False)._groups)
    reads = []
    real = TermRanges.read

    def spy(self, groups, columns):
        reads.append([g[0] for g in groups])
        return real(self, groups, columns)

    monkeypatch.setattr(PostingsReader, "read", spy)
    for term in ("rareterm1", "rareterm4", "w250", "w900"):
        reads.clear()
        assert eng.search_topk([term], "disjunctive", 10), term
        (files_read,) = reads
        assert len(files_read) == len(set(files_read)), term


def test_byte_guard_falls_back_to_spark(spark, multi, monkeypatch):
    eng = SearchEngine(spark, multi)
    local = {str(q): eng.search_topk(k=10, **q) for q in QUERIES}
    monkeypatch.setattr(bm25, "LOCAL_TOPK_MAX_BYTES", 0)
    got = {}

    def calls():
        for q in QUERIES:
            got[str(q)] = eng.search_topk(k=10, **q)

    assert _jobs_of(spark, calls)  # the Spark plan ran
    assert got == local
