"""In-process scored calls (SearchEngine.search, search_synonyms,
match_phrase_prefix, match_bool_prefix, search_query_string,
search_filtered, search_batch and match_ids) and the Arrow-backed
frames they return.

Pins:

- every call returns exactly the rows of its Spark plan (the byte guard
  set to 0 forces that plan), scores included: on a multi-shard
  positional index with a stop filter, a single-shard index, and a chain
  with tombstones before and after merge_chain;
- the unfiltered calls submit no Spark job, collecting the result
  included, and neither do a dashboard panel over a match set and
  index_stats; the filtered ones submit at most one;
- search_batch reads each postings row group at most once;
- validate_query submits no Spark job and reads no postings;
- a filter-only query falls back to the lazy plan above the byte guard;
- an engine keeps reading the docs chain it was built on after
  merge_chain(expire=True);
- arrow_frame keeps the rows that follow an empty chunk.
"""

import itertools
import shutil

import pandas as pd
import pyarrow as pa
import pytest

import picdexer_spark.index.build as build_mod
import picdexer_spark.query.bm25 as bm25
from picdexer_spark.fixtures.pages import gen_pages
from picdexer_spark.index.build import IndexConfig, build_index
from picdexer_spark.index.termdict import TermRanges
from picdexer_spark.operators import dashboards
from picdexer_spark.query.bm25 import RESULT_SCHEMA, SearchEngine
from picdexer_spark.query.local import PostingsReader
from picdexer_spark.sources.catalog import arrow_frame
from picdexer_spark.streaming.incremental import build_incremental, merge_chain

#: kuery strings; the phrase shapes run on positional indexes only
KUERIES = [
    "lang:en w0 w5",                                # filter + OR
    "NOT lang:de w1 AND w3",                        # negated filter + AND
    "lang:en OR lang:fr w2",                        # filter alternation
    "lang:en",                                      # filter only
    "w1*",                                          # prefix
    "w35~1",                                        # fuzzy
    "w1*3",                                         # wildcard
    "/w1[0-9]/",                                    # regexp
    "(w1 OR w7) AND (w3 OR rareterm2)",             # boolean tree
    "(lang:en OR lang:de) AND (w1 OR w7) AND w3",   # tree + filter
    "w1^2 w7",                                      # boosts
    "w6",                                           # a stopword (multi)
    "w6 AND w1",                                    # stopword dropped
    "(w6) AND (w1 OR w3)",                          # group emptied
    "(lang:en OR lang:de) AND (w6)",                # tree -> filter only
    "lang:en w6",                                   # emptied with filter
]
PHRASES = ['"w0 w1"', '"w2 w0"~2', '"w0 w1"~1']

#: search_filtered keyword arguments
FILTERED = [
    dict(terms=["w0", "w5"], filters=[("lang", "en")]),
    dict(terms=["w3", "w17", "w40", "w88"], filters=[("lang", "!=", "de")],
         min_should_match=2),
    dict(terms=["w0", "w9"], mode="conjunctive",
         filters=[("warc_ts", ">=", "2023-04-01 00:00:00")]),
    dict(terms=["https", "example"], filters=[("lang", "en")],
         field="url"),
    dict(terms=["w1", "w7", "w3", "rareterm2"], mode="groups",
         groups=[["w1", "w7"], ["w3", "rareterm2"]],
         filters=[("lang", "en")]),
    dict(terms=[], filters=[("lang", "fr")]),
]

#: search_batch query sets: OR/AND at k 1/10/100, absent terms
BATCH = [
    {"query_id": 0, "terms": ["w0", "w5"], "mode": "disjunctive", "k": 10},
    {"query_id": 1, "terms": ["w0", "w5"], "mode": "conjunctive", "k": 1},
    {"query_id": 2, "terms": ["w3", "w17", "w40"], "mode": "disjunctive",
     "k": 100},
    {"query_id": 3, "terms": ["rareterm3"], "mode": "disjunctive", "k": 10},
    {"query_id": 4, "terms": ["w2", "zzznope"], "mode": "disjunctive",
     "k": 10},
    {"query_id": 5, "terms": ["w2", "zzznope"], "mode": "conjunctive",
     "k": 10},
    {"query_id": 6, "terms": ["w9", "w11"], "mode": "conjunctive",
     "k": 100},
]
BATCH_PHRASES = [
    {"query_id": 7, "terms": ["w0", "w1"], "mode": "phrase", "k": 10},
    {"query_id": 8, "terms": ["w2", "w0", "w1"], "mode": "phrase", "k": 100,
     "slop": 2},
]

#: search keyword arguments
SEARCHES = [
    dict(terms=["w0", "w5"], mode="disjunctive"),
    dict(terms=["w3", "w17", "w40", "w88"], mode="disjunctive",
         min_should_match=2),
    dict(terms=["w0", "w9"], mode="conjunctive", k=100),
    dict(terms=["w1", "w7", "w3", "rareterm2"], mode="groups",
         groups=[["w1", "w7"], ["w3", "rareterm2"]]),
    dict(terms=["w0", "w5"], after=(0.2, 50)),   # mid-ranking cursor
    dict(terms=["https", "example"], field="url"),
]
#: search_synonyms keyword arguments (with SYN_CLASS)
SYNONYMS = [
    dict(terms=["w0", "w5"], mode="disjunctive"),
    dict(terms=["w0", "w9"], mode="conjunctive", k=100),
]
#: a one-class synonym set (w5 blends with w7)
SYN_CLASS = [["w5", "w7"]]
#: match_bool_prefix keyword arguments
BOOL_PREFIXES = [
    dict(terms=["w0", "w1"], operator="or"),
    dict(terms=["w0", "w1"], operator="and", k=100),
]
#: match_phrase_prefix keyword arguments (positional indexes only)
PHRASE_PREFIXES = [
    dict(terms=["w0", "w1"]),
    dict(terms=["w2", "w0", "w"], k=100),
]

#: match_ids keyword arguments
MATCHES = [
    dict(terms=["w3", "rareterm2"]),
    dict(terms=["w0", "w9"], mode="conjunctive", with_scores=True),
    dict(terms=["w1", "w7", "w3", "rareterm2"], mode="groups",
         groups=[["w1", "w7"], ["w3", "rareterm2"]], with_scores=True),
    dict(terms=["w0", "w5"], filters=[("lang", "en")], with_scores=True),
    dict(terms=["zzznope"]),
]

_groups = itertools.count()


def _jobs_of(spark, fn):
    """Run fn() in a fresh job group; the Spark job ids it submitted."""
    sc = spark.sparkContext
    group = f"local-reads-{next(_groups)}"
    sc.setJobGroup(group, "in-process reads")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _scored(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _calls(eng):
    """{label: () -> comparable rows} over every collected call shape."""
    pos = eng.has_positions
    calls = {}
    for i, kw in enumerate(SEARCHES):
        calls[f"search {i}"] = lambda kw=kw: _scored(eng.search(**kw))
    for i, kw in enumerate(SYNONYMS):
        calls[f"synonyms {i}"] = lambda kw=kw: _scored(
            eng.search_synonyms(synonyms=SYN_CLASS, **kw))
    for i, kw in enumerate(BOOL_PREFIXES):
        calls[f"bool prefix {i}"] = lambda kw=kw: _scored(
            eng.match_bool_prefix(**kw))
    for i, kw in enumerate(PHRASE_PREFIXES if pos else []):
        calls[f"phrase prefix {i}"] = lambda kw=kw: _scored(
            eng.match_phrase_prefix(**kw))
    for q in KUERIES + (PHRASES if pos else []):
        calls[f"qs {q}"] = lambda q=q: _scored(eng.search_query_string(q))
    for i, kw in enumerate(FILTERED):
        kw = {**kw}
        kw.setdefault("mode", "disjunctive")
        calls[f"filtered {i}"] = lambda kw=kw: _scored(
            eng.search_filtered(k=10, **kw))
    batch = BATCH + (BATCH_PHRASES if pos else [])
    calls["batch"] = lambda: sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in eng.search_batch(batch).collect())
    for i, kw in enumerate(MATCHES):
        calls[f"match {i}"] = lambda kw=kw: sorted(
            tuple(r) for r in eng.match_ids(**kw).collect())
    return calls


def _check_parity(eng):
    """Every call in process equals its Spark plan; returns the rows."""
    calls = _calls(eng)
    local = {name: fn() for name, fn in calls.items()}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(bm25, "LOCAL_TOPK_MAX_BYTES", 0)
        for name, fn in calls.items():
            assert fn() == local[name], name
    assert sum(bool(v) for v in local.values()) > len(local) // 2
    return local


@pytest.fixture(scope="module")
def multi(spark, tmp_path_factory):
    """4-shard positional index with a stop filter, written in ~32 KB
    postings row groups so the footer ranges prune."""
    idx = str(tmp_path_factory.mktemp("lr_multi"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(build_mod, "ROW_GROUP_BYTES", 32 << 10)
        build_index(spark, spark.createDataFrame(gen_pages(320, seed=53)),
                    idx, IndexConfig(shard_range=80, store_positions=True,
                                     stopwords=("w6",)))
    return idx


def _append(spark, idx, cfg, base, seed, n_up, n_new, tag):
    """An append of `n_up` upserts of `base`'s first pages (new text) and
    `n_new` new pages."""
    up = base.iloc[:n_up].copy()
    up["text"] = gen_pages(n_up, seed=seed)["text"].to_numpy()
    up["html"] = None
    new = gen_pages(n_new, seed=seed + 1)
    new["url"] = [f"https://{tag}.example/p/{i}" for i in range(n_new)]
    build_incremental(spark, spark.createDataFrame(
        pd.concat([up, new], ignore_index=True)), idx, cfg, tag)


@pytest.fixture(scope="module")
def chain(spark, tmp_path_factory):
    """Base build + an append of 40 upserts and 60 new pages: a
    two-snapshot chain with tombstones."""
    idx = str(tmp_path_factory.mktemp("lr_chain"))
    cfg = IndexConfig(shard_range=64)
    base = gen_pages(200, seed=59)
    build_incremental(spark, spark.createDataFrame(base), idx, cfg, "s1")
    _append(spark, idx, cfg, base, 61, 40, 60, "s2")
    return idx


def test_parity_multi_shard_positional(spark, multi):
    eng = SearchEngine(spark, multi)
    assert eng.n_docs > eng.shard_range   # more than one shard
    assert eng.has_positions and eng.stopwords
    rows = _check_parity(eng)
    # the stopword vanishes from its clause, group or query
    assert rows["qs w6"] == [] and rows["qs lang:en w6"] == []
    assert rows["qs w6 AND w1"] == eng.search_topk(["w1"], "conjunctive")
    assert rows["qs (w6) AND (w1 OR w3)"] == eng.search_topk(["w1", "w3"])
    only = rows["qs (lang:en OR lang:de) AND (w6)"]
    assert only == _scored(eng.search_query_string("lang:en OR lang:de"))
    assert len(only) == 10 and {s for _d, s in only} == {1.0}


def test_parity_single_shard(spark, tmp_path):
    idx = str(tmp_path / "single")
    build_index(spark, spark.createDataFrame(gen_pages(150, seed=71)), idx,
                IndexConfig(shard_range=1 << 16))
    eng = SearchEngine(spark, idx)
    assert eng.n_docs <= eng.shard_range   # every doc in one shard
    _check_parity(eng)


def test_parity_chain_before_and_after_merge(spark, chain, tmp_path):
    eng = SearchEngine(spark, chain)
    assert sum(eng._tomb_counts.values()) == 40
    before = _check_parity(eng)

    idx = str(tmp_path / "merged")
    shutil.copytree(chain, idx)
    assert merge_chain(spark, idx, max_segments=1)
    meng = SearchEngine(spark, idx)
    assert len(meng.cat.parent_chain()) == 1
    assert _check_parity(meng) == before


def test_filtered_after_cursor_pages(spark, multi):
    eng = SearchEngine(spark, multi)
    kw = dict(terms=["w0", "w5"], filters=[("lang", "en")])
    full = _scored(eng.search_filtered(k=40, **kw))
    assert len(full) == 40
    pages, after = [], None
    while len(pages) < 40:
        page = _scored(eng.search_filtered(k=7, after=after, **kw))
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(bm25, "LOCAL_TOPK_MAX_BYTES", 0)
            assert page == _scored(eng.search_filtered(k=7, after=after,
                                                       **kw))
        assert page
        pages += page
        after = (page[-1][1], page[-1][0])
    assert pages[:40] == full


def test_filter_agrees_with_search_topk(spark, multi):
    """A filter every live doc passes leaves the top-k unchanged."""
    eng = SearchEngine(spark, multi)
    for terms, mode in ((["w0", "w5"], "disjunctive"),
                        (["w0", "w5"], "conjunctive")):
        got = _scored(eng.search_filtered(
            terms, mode, [("doc_id", ">=", "0")], k=25))
        assert got == eng.search_topk(terms, mode, 25)


def test_filter_only_guard_falls_back_to_lazy_plan(spark, chain):
    """A filter-only query collects k + |tombstones| ids only while they
    fit the byte guard; above it the result is the lazy plan over the
    live docs, with the same rows."""
    eng = SearchEngine(spark, chain)
    tombs = sum(eng._tomb_counts.values())
    for k, after in ((5, None), (30, (1.0, 40)), (500, None)):
        kw = dict(terms=[], filters=[("lang", "!=", "de")], k=k, after=after)
        local = eng.search_filtered(**kw)
        assert "LocalRelation" in local._jdf.queryExecution() \
            .optimizedPlan().toString()
        rows = _scored(local)
        assert rows and {s for _d, s in rows} == {1.0}
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(bm25, "LOCAL_TOPK_MAX_BYTES", (k + tombs) * 8 - 1)
            lazy = eng.search_filtered(**kw)
            assert "LocalRelation" not in lazy._jdf.queryExecution() \
                .optimizedPlan().toString()
            assert _scored(lazy) == rows


def test_job_counts(spark, multi, chain):
    """Unfiltered calls run no Spark job, collect included (search,
    search_synonyms, match_bool_prefix and match_phrase_prefix too), and
    neither do a dashboard panel over the match set and index_stats; a
    filtered call runs at most one (the filter's live-docs match set)."""
    engines = [SearchEngine(spark, multi), SearchEngine(spark, chain)]
    for eng in engines:
        eng.search_topk(["w0"], "disjunctive", 5)  # footers read once
        eng._docs_fields  # the docs schema, read once per engine
    unfiltered = [q for q in KUERIES if "lang:" not in q] + PHRASES

    def calls():
        for eng in engines:
            pos = eng.has_positions
            for q in unfiltered if pos else unfiltered[:-len(PHRASES)]:
                eng.search_query_string(q).collect()
            eng.search_filtered(["w0", "w5"], k=10).collect()
            eng.search(["w0", "w5"], "disjunctive", 10).collect()
            eng.search_synonyms(["w0", "w5"], SYN_CLASS).collect()
            eng.match_bool_prefix(["w0", "w1"]).collect()
            eng.match_bool_prefix(["w0", "w1"], operator="and").collect()
            if pos:
                eng.match_phrase_prefix(["w0", "w1"]).collect()
            eng.search_batch(BATCH + (BATCH_PHRASES if pos else [])) \
                .collect()
            eng.match_ids(["w0", "w9"], "conjunctive").collect()
            eng.match_ids(["w3", "rareterm2"], with_scores=True).collect()
            eng.count(["w0", "w9"], "conjunctive")
            eng.index_stats()
            # the dashboard panel: match set -> live docs semi-join ->
            # both aggregations, collected
            for live in (eng.live_docs(),
                         eng.cat.read_live_docs(spark, eng.snapshot_id)):
                docs = live.join(eng.match_ids(["w0", "w9"], "conjunctive"),
                                 "doc_id", "semi")
                dashboards.date_histogram(docs, "warc_ts", "week").collect()
                dashboards.top_terms_with_other(docs, "lang", 3).collect()

    assert _jobs_of(spark, calls) == []

    filtered = [
        lambda e: e.search_query_string("lang:en w0 w5"),
        lambda e: e.search_query_string(
            "(lang:en OR lang:de) AND (w1 OR w7) AND w3"),
        lambda e: e.search_query_string("lang:en"),
        lambda e: e.search_filtered(["w3", "w17"], filters=[("lang", "en")]),
        lambda e: e.match_ids(["w0", "w5"], filters=[("lang", "en")]),
    ]
    for eng in engines:
        for call in filtered:
            assert len(_jobs_of(spark, lambda: call(eng).collect())) <= 1


def test_batch_reads_each_row_group_once(spark, multi, monkeypatch):
    eng = SearchEngine(spark, multi)
    reads = []
    real = TermRanges.read

    def spy(self, groups, columns):
        reads.extend((g[0], g[1]) for g in groups)
        return real(self, groups, columns)

    monkeypatch.setattr(PostingsReader, "read", spy)
    queries = BATCH + BATCH_PHRASES + [
        {"query_id": 9, "terms": ["w0", "w3"], "mode": "disjunctive",
         "k": 10},
        {"query_id": 10, "terms": ["w0", "w5", "w3"], "mode": "conjunctive",
         "k": 10},
    ]
    assert eng.search_batch(queries).collect()
    assert reads and len(reads) == len(set(reads))
    # one query's own read: the batch's union holds at least as many
    single = len(reads)
    reads.clear()
    eng.search_topk(["w0", "w5"], "disjunctive", 10)
    assert 0 < len(reads) <= single


def test_validate_query_is_a_dry_run(spark, multi, tmp_path, monkeypatch):
    """The probe shapes of test_analysis' agreement test, on an index
    like its fixture, plus the benchmark's four kuery shapes: no Spark
    job, no postings row group read."""
    stop = str(tmp_path / "stop")
    build_index(
        spark, spark.createDataFrame(
            [(u, None, None, t, "en") for u, t in (
                ("u0", "the quick fox jumps over the lazy dog"),
                ("u1", "quick fox quick run"),
                ("u2", "a lazy afternoon with the dog"),
                ("u3", "fox and dog and fox"),
                ("u4", "run fast run far run"))],
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string"),
        stop, IndexConfig(shard_range=64, store_positions=True,
                          stopwords="_english_"))
    probes = [
        (SearchEngine(spark, stop, synonyms=[["quick", "fast"]]),
         ['"the fox"', "quick AND lazy", "quick*", "(quick OR lazy) AND dog",
          "fox AND run", "lang:"]),
        (SearchEngine(spark, multi),
         ["lang:en w12 w40", "w12*", "w35~1",
          "(lang:en OR lang:de) AND (w12 OR w40) AND w0"]),
    ]
    for eng, qs in probes:
        eng._docs_fields  # the docs schema, read once per engine
    reads = []
    real = TermRanges.read

    def spy(self, groups, columns):
        reads.append(groups)
        return real(self, groups, columns)

    monkeypatch.setattr(PostingsReader, "read", spy)
    verdicts = {}

    def calls():
        for eng, qs in probes:
            for q in qs:
                verdicts[q] = eng.validate_query(q)["valid"]

    assert _jobs_of(spark, calls) == []
    assert reads == []
    for eng, qs in probes:
        for q in qs:
            try:
                eng.search_query_string(q, 3)
                executed = True
            except ValueError:
                executed = False
            assert verdicts[q] == executed, q
    assert not verdicts['"the fox"'] and verdicts["fox AND run"]


def test_engine_keeps_its_docs_chain_across_merge_expire(spark, tmp_path):
    """merge_chain(expire=True) drops the folded snapshots from the
    manifest; an engine built before it keeps reading its own docs and
    deletes directories, so its live-docs consumers (the highlighter,
    the filtered calls) answer as before."""
    idx = str(tmp_path / "expire")
    cfg = IndexConfig(shard_range=64, store_positions=True)
    build_incremental(spark, spark.createDataFrame(gen_pages(60, seed=79)),
                      idx, cfg, "a1")
    extra = gen_pages(60, seed=83)
    extra["url"] = [f"https://more.example/p/{i}" for i in range(60)]
    build_incremental(spark, spark.createDataFrame(extra), idx, cfg, "a2")
    eng = SearchEngine(spark, idx)
    assert len(eng.cat.parent_chain()) == 2

    def answers():
        return (
            [tuple(r) for r in
             eng.search_highlight(["w0"], "disjunctive", 10).collect()],
            _scored(eng.search_query_string("doc_id >= 0 w0 w5")),
            eng.search_topk(["w0", "w5"], "disjunctive", 10),
        )

    before = answers()
    assert len(before[0]) == 10
    assert before[1] == before[2]
    assert merge_chain(spark, idx, max_segments=1, expire=True)
    assert eng.cat.parent_chain(eng.snapshot_id) == [eng.snapshot_id]
    assert answers() == before


def test_arrow_frame_keeps_rows_after_an_empty_chunk(spark):
    parts = [pa.table({"doc_id": pa.array(ids, pa.int64()),
                       "score": pa.array([1.0] * len(ids), pa.float64())})
             for ids in ([1, 2], [], [3], [], [4, 5])]
    df = arrow_frame(spark, RESULT_SCHEMA, pa.concat_tables(parts))
    assert [r["doc_id"] for r in df.collect()] == [1, 2, 3, 4, 5]
    assert _jobs_of(spark, df.collect) == []
    assert arrow_frame(spark, "doc_id long").collect() == []
