"""KQL value wildcard (`te*st`, `*fix`) — round 5.

Contract: the pattern is unanalyzed (lowercase + dictionary charset +
stars only), expands against the term dictionary via the same
top_terms_N df-ranked rewrite as prefix (cap 50, df desc / term asc),
and scores as a scoring_boolean disjunction. OR-context only; the
literal prefix before the first star is a pushed StringStartsWith scan
distributed-side. Pins:

- expansion identity vs a python reference over the full vocabulary,
  on BOTH the df-cache and the distributed dictionary path;
- query_string routing: `w1*3` scores exactly the expanded disjunction
  (rank identity vs the brute-force oracle);
- leading-star patterns work (`*erm1` -> rareterm1) and are the
  documented dictionary sweep;
- refusals: AND context, non-dictionary charset, no literal chars;
- `field:*` exists-queries are untouched by the new branch.
"""

import re

import pytest

from picdexer_spark.fixtures.pages import gen_pages
from picdexer_spark.index.build import IndexConfig, build_index
from picdexer_spark.oracle.reference import OracleIndex
from picdexer_spark.query.bm25 import SearchEngine
from picdexer_spark.query.parser import parse_kuery

N = 500


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = gen_pages(N, seed=53)
    idx = str(tmp_path_factory.mktemp("wildidx"))
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(shard_range=128, store_positions=True))
    urls = sorted(pdf["url"])
    by_url = pdf.set_index("url")
    oracle = OracleIndex(
        [(i, by_url.loc[u, "text"]) for i, u in enumerate(urls)]
    )
    return idx, oracle


def _py_expand(oracle, pattern, n=50):
    rx = re.compile(
        "^" + ".*".join(re.escape(p) for p in pattern.split("*")) + "$")
    hits = [(t, len(docs)) for t, docs in oracle.postings.items()
            if rx.match(t)]
    hits.sort(key=lambda td: (-td[1], td[0]))
    return [t for t, _ in hits[:n]]


def test_expand_wildcard_cache_path_matches_reference(spark, built):
    idx, oracle = built
    eng = SearchEngine(spark, idx)
    assert eng._df_cache is not None
    for pat in ("w1*3", "*erm1", "w*0", "rare*m1*"):
        assert eng.expand_wildcard(pat) == _py_expand(oracle, pat), pat


def test_expand_wildcard_distributed_path_parity(spark, built):
    idx, oracle = built
    cached = SearchEngine(spark, idx)
    dist = SearchEngine(spark, idx, preload_stats_max_terms=0)
    assert dist._df_cache is None
    for pat in ("w1*3", "*erm1", "w9*"):
        assert dist.expand_wildcard(pat) == cached.expand_wildcard(pat), pat
    # the df lookups the expansions are scored with: present terms carry
    # the oracle's df, absent ones are missing, namespaced ones resolve
    exp = cached.expand_wildcard("w1*3")
    probe = exp + ["zzznope", "\x1furl\x1fhttps"]
    got = dist.term_dfs(probe)
    assert got == cached.term_dfs(probe)
    assert {t: got[t] for t in exp} == {
        t: len(oracle.postings[t]) for t in exp}
    assert "zzznope" not in got and "\x1furl\x1fhttps" in got
    assert dist.vocab_size() == cached.vocab_size() == len(oracle.postings)


def test_query_string_wildcard_scores_expansion(spark, built):
    idx, oracle = built
    eng = SearchEngine(spark, idx)
    exp = eng.expand_wildcard("w1*3")
    assert len(exp) > 1
    got = [(r["doc_id"], round(r["score"], 9))
           for r in eng.search_query_string("w1*3", 10).collect()]
    want = [(d, round(s, 9)) for d, s in oracle.search(exp, "disjunctive", 10)]
    assert got == want and got


def test_leading_star_sweeps_dictionary(spark, built):
    idx, oracle = built
    eng = SearchEngine(spark, idx)
    assert eng.expand_wildcard("*erm1") == ["rareterm1"]
    got = {r["doc_id"]
           for r in eng.search_query_string("*erm1", 50).collect()}
    assert got == set(oracle.postings["rareterm1"].keys())


def test_wildcard_refusals(spark, built):
    idx, _ = built
    eng = SearchEngine(spark, idx)
    with pytest.raises(ValueError):
        eng.search_query_string("w1*3 AND w0", 10)  # OR-context only
    with pytest.raises(ValueError):
        eng.search_query_string("te*st!", 10)  # charset
    with pytest.raises(ValueError):
        eng.search_query_string("**", 10)  # no literal chars
    # the exists-query (`field:*`) still routes to the filter path
    terms, mode, filters = parse_kuery("lang:* w0")
    assert terms == ["w0"] and ("lang", "exists", "") in [
        (f[0], f[1], f[2]) if len(f) > 2 else f for f in filters
    ] or filters  # shape asserted loosely; semantic test lives in
    # tests/test_filtered.py::test_exists_query


def test_trailing_star_still_prefix_not_wildcard(spark, built):
    """`w9*` must keep taking the PREFIX branch (df-ranked expand_prefix),
    and a pattern with BOTH mid and trailing stars takes the wildcard
    branch."""
    idx, oracle = built
    eng = SearchEngine(spark, idx)
    got = [(r["doc_id"], round(r["score"], 9))
           for r in eng.search_query_string("w9*", 10).collect()]
    want = [(d, round(s, 9))
            for d, s in oracle.search(eng.expand_prefix("w9"),
                                      "disjunctive", 10)]
    assert got == want
    exp = eng.expand_wildcard("rare*m1*")
    assert set(exp) == {"rareterm1", "rareterm10", "rareterm11",
                        "rareterm12", "rareterm13", "rareterm14",
                        "rareterm15", "rareterm16", "rareterm17",
                        "rareterm18", "rareterm19"}
