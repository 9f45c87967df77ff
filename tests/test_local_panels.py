"""In-process dashboard panels: date_histogram and top_terms_with_other
over the live docs semi-joined with a driver-held match set aggregate
with pyarrow (operators/dashboards.py, sources/catalog.py ArrowFrame).

Pins:

- the driver path returns the Spark plan's rows, order and schema, for
  date_histogram 12h / week / year and top_terms_with_other k = 1, 3
  and 20 (ties, a null key, Other present and absent) and an empty match
  set: on a multi-shard index, on a tombstoned chain, and on an engine
  pinned across merge_chain(expire=True);
- the live-docs recipe drops tombstoned ids as the anti-join does;
- the fallbacks (the byte guard at 0, a non-UTC session time zone)
  answer with the Spark plan;
- count and index_stats read the held match set and the tombstone
  counts.
"""

import datetime as dt
import shutil

import pyarrow as pa
import pytest
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import picdexer_spark.query.bm25 as bm25
from picdexer_spark.index.build import IndexConfig
from picdexer_spark.operators import dashboards
from picdexer_spark.query.bm25 import IDS_SCHEMA, SearchEngine
from picdexer_spark.sources.catalog import ArrowFrame, arrow_frame
from picdexer_spark.streaming.incremental import build_incremental, merge_chain

PAGES_DDL = ("url string, warc_ts timestamp, html binary, text string, "
             "lang string")

#: 18 per cycle: de, fr and null tie below en, then "" and two singles
LANGS = (["en"] * 5 + ["de"] * 3 + ["fr"] * 3 + [None] * 3 + [""] * 2
         + ["xx", "yy"])

#: (terms, mode) match sets the panels run over; the last is empty
QUERIES = [
    (["common"], "disjunctive"),
    (["common", "odd"], "conjunctive"),
    (["third", "rare"], "disjunctive"),
    (["nomatch"], "conjunctive"),
]

BUCKETS = ("12h", "week", "year")
KS = (1, 3, 20)


def _pages(n, start, tag):
    """`n` pages: timestamps from before the epoch on, every 7th null,
    the LANGS cycle, and texts that the QUERIES split."""
    t0 = dt.datetime(1969, 6, 28, 21, 30)
    rows = []
    for i in range(start, start + n):
        words = ["common"]
        words += ["odd"] if i % 2 else []
        words += ["third"] if i % 3 == 0 else []
        words += ["rare"] if i % 17 == 0 else []
        ts = None if i % 7 == 0 else \
            t0 + dt.timedelta(days=97 * i, hours=5 * i, minutes=17 * i)
        rows.append((f"https://{tag}.example/p/{i}", ts, None,
                     " ".join(words), LANGS[i % len(LANGS)]))
    return rows


def _panels(docs):
    """{label: (rows, schema)} of every panel shape over `docs`."""
    out = {}
    for b in BUCKETS:
        df = dashboards.date_histogram(docs, "warc_ts", b)
        out[b] = (df.collect(), df.schema, isinstance(df, ArrowFrame))
    for k in KS:
        df = dashboards.top_terms_with_other(docs, "lang", k)
        out[k] = (df.collect(), df.schema, isinstance(df, ArrowFrame))
    return out


def _check(docs):
    """The driver path over `docs` equals the plan over the same rows
    (a plain frame: `select("*")` carries no recipe); returns the
    driver path's rows."""
    local = _panels(docs)
    plan = _panels(docs.select("*"))
    for label, (rows, schema, held) in local.items():
        assert held and not plan[label][2], label
        assert rows == plan[label][0], label
        assert schema == plan[label][1], label
    return {label: rows for label, (rows, _s, _h) in local.items()}


def _check_engine(eng, docs_of):
    """Every QUERIES panel over `docs_of(eng)` semi-joined with the
    match set; returns their rows."""
    got = {}
    for terms, mode in QUERIES:
        ids = eng.match_ids(terms, mode)
        assert ids.arrow_table is not None
        got[tuple(terms)] = _check(docs_of(eng).join(ids, "doc_id", "semi"))
    assert not any(got[("nomatch",)].values())
    return got


def _via_catalog(eng):
    return eng.cat.read_live_docs(eng.spark, eng.snapshot_id)


def _via_engine(eng):
    return eng.live_docs()


@pytest.fixture(scope="module")
def multi(spark, tmp_path_factory):
    """One snapshot, 4 shards of 32 docs."""
    idx = str(tmp_path_factory.mktemp("lp_multi"))
    build_incremental(spark, spark.createDataFrame(_pages(126, 0, "a"),
                                                   PAGES_DDL),
                      idx, IndexConfig(shard_range=32), "m1")
    return idx


@pytest.fixture(scope="module")
def chain(spark, multi, tmp_path_factory):
    """`multi` plus an append of 30 upserts (new text and lang) and 20
    new pages: a two-snapshot chain with tombstones."""
    idx = str(tmp_path_factory.mktemp("lp_chain") / "idx")
    shutil.copytree(multi, idx)
    up = [(u, ts, h, "common odd third replaced", "up")
          for u, ts, h, _t, _l in _pages(30, 0, "a")]
    build_incremental(spark, spark.createDataFrame(
        up + _pages(20, 200, "b"), PAGES_DDL), idx,
        IndexConfig(shard_range=32), "m2")
    return idx


def test_panels_multi_shard(spark, multi):
    eng = SearchEngine(spark, multi)
    assert eng.n_docs > eng.shard_range   # more than one shard
    assert not eng._tomb_counts
    got = _check_engine(eng, _via_catalog)
    assert _check_engine(eng, _via_engine) == got
    # the fixture reaches the cases it is for: a null bucket and key,
    # a tie in counts, Other both present and absent
    everything = got[("common",)]
    assert everything["week"][0]["bucket"] is None
    assert any(r["bucket"] < 0 for r in everything["12h"][1:])
    keys = [r["key"] for r in everything[20]]
    assert None in keys and "__other__" not in keys
    ns = [r["n"] for r in everything[20]]
    assert len(set(ns)) < len(ns)
    assert everything[3][-1]["key"] == "__other__"


def test_panels_tombstoned_chain(spark, chain):
    eng = SearchEngine(spark, chain)
    assert sum(eng._tomb_counts.values()) == 30
    got = _check_engine(eng, _via_catalog)
    assert _check_engine(eng, _via_engine) == got
    assert ("up", 30) in [(r["key"], r["n"]) for r in got[("common",)][20]]
    # every doc id of the chain, tombstoned ones included: the recipe
    # drops the 30 tombstoned docs as the view's anti-join does
    live = eng.live_docs()
    all_ids = arrow_frame(spark, IDS_SCHEMA, pa.table(
        {"doc_id": pa.array(range(1 << 12), pa.int64())}))
    rows = _check(live.join(all_ids, "doc_id", "semi"))
    assert sum(r["n"] for r in rows["year"]) == eng.n_docs == 146


def test_panels_pinned_across_merge_expire(spark, chain, tmp_path):
    idx = str(tmp_path / "expire")
    shutil.copytree(chain, idx)
    eng = SearchEngine(spark, idx)
    before = _check_engine(eng, _via_engine)
    assert merge_chain(spark, idx, max_segments=1, expire=True)
    assert eng.cat.parent_chain(eng.snapshot_id) == [eng.snapshot_id]
    assert _check_engine(eng, _via_engine) == before


def test_panels_of_a_held_frame(spark):
    """An Arrow-backed frame with non-null columns: the bucket and key
    keep the plan's nullability."""
    schema = StructType([StructField("warc_ts", TimestampType(), False),
                         StructField("lang", StringType(), False),
                         StructField("n", LongType(), True)])
    rows = [(ts, lang or "-", 1) for _u, ts, _h, _t, lang
            in _pages(40, 1, "h") if ts is not None]
    tbl = pa.table({"warc_ts": pa.array([r[0] for r in rows],
                                        pa.timestamp("us", "UTC")),
                    "lang": [r[1] for r in rows],
                    "n": pa.array([r[2] for r in rows], pa.int64())})
    _check(arrow_frame(spark, schema, tbl))
    _check(arrow_frame(spark, schema, tbl.slice(0, 0)))


def test_fallbacks_answer_with_the_plan(spark, chain):
    eng = SearchEngine(spark, chain)
    terms = ["common", "odd"]
    local = _check(_via_catalog(eng).join(
        eng.match_ids(terms, "conjunctive"), "doc_id", "semi"))
    # above the byte guard match_ids is a Spark plan: so is the panel
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(bm25, "LOCAL_TOPK_MAX_BYTES", 0)
        ids = eng.match_ids(terms, "conjunctive")
        assert not isinstance(ids, ArrowFrame)
        docs = _via_catalog(eng).join(ids, "doc_id", "semi")
        assert not isinstance(docs, ArrowFrame)
        got = _panels(docs)
    assert not any(held for _r, _s, held in got.values())
    assert {label: rows for label, (rows, _s, _h) in got.items()} == local
    # the buckets are UTC's: another session time zone runs the plan
    docs = _via_catalog(eng).join(eng.match_ids(terms, "conjunctive"),
                                  "doc_id", "semi")
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        got = _panels(docs)
        plan = _panels(docs.select("*"))
    finally:
        spark.conf.set(key, old)
    assert not any(held for _r, _s, held in got.values())
    assert {label: rows for label, (rows, _s, _h) in got.items()} == \
        {label: rows for label, (rows, _s, _h) in plan.items()}


def test_count_and_index_stats_read_driver_counts(spark, chain):
    eng = SearchEngine(spark, chain)
    for terms, mode in QUERIES:
        n = eng.count(terms, mode)
        assert n == eng.match_ids(terms, mode).select("*").count()
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(bm25, "LOCAL_TOPK_MAX_BYTES", 0)
            assert eng.count(terms, mode) == n
    st = eng.index_stats()
    assert st["deleted_docs"] == eng.deletes.count() == 30
    assert st["live_docs"] == eng.live_docs().count() == 146
