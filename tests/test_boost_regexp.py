"""query_string per-term boosts (`term^N`) and regexp terms (`/pat/`).

Boost contract (Lucene BoostQuery): a boosted term's contribution is
`boost * idf * tf_norm`; the boost folds into the term's idf BEFORE the
kernels run so block-max pruning inherits it and stays exact. Pins:

- rank identity vs the brute-force oracle across boost configs (incl.
  down-weighting with 0 < boost < 1);
- boost=1 everywhere is bit-identical to the plain path; pruned==bulk;
- the boost actually reorders the top-k for some config (not vacuous);
- query_string `w^2` routing == search(boosts=...); composes with
  filters and with AND context;
- refusals: boost <= 0, malformed syntax, boost on markers/phrases/
  groups, duplicate conflicting boosts, plain+boosted same term.

Regexp contract (Lucene RegexpQuery): the pattern is lowercased, NOT
analyzed, implicitly anchored to the whole term, expanded against the
dictionary via the top_terms_N df-ranked rewrite (cap 50) and scored as
a scoring_boolean disjunction. OR-context only; charset restricted to
a Lucene subset that RE2 (the engine's regexp sweep) reads the same way.
Pins:

- expansion identity vs a python re over the full vocabulary (a
  quantifier right after the literal prefix and a top-level alternation
  exercise the prefix-pushdown guards);
- query_string `/pat/` scores exactly the expanded disjunction;
- refusals: AND context, charset escapes/anchors, invalid pattern,
  braces that are not a counted repetition, stacked quantifiers.
"""

import re

import pytest

from picdexer_spark.fixtures.pages import gen_pages
from picdexer_spark.index.build import IndexConfig, build_index
from picdexer_spark.oracle.reference import OracleIndex
from picdexer_spark.query.bm25 import SearchEngine
from picdexer_spark.query.parser import parse_query_string

N = 500
TERMS = ["w0", "w3", "w11"]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = gen_pages(N, seed=59)
    idx = str(tmp_path_factory.mktemp("boostidx"))
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(shard_range=128, store_positions=True))
    urls = sorted(pdf["url"])
    by_url = pdf.set_index("url")
    oracle = OracleIndex(
        [(i, by_url.loc[u, "text"]) for i, u in enumerate(urls)]
    )
    return idx, oracle


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def _want(oracle, terms, mode="disjunctive", k=10, boosts=None):
    return [(d, round(s, 9))
            for d, s in oracle.search(terms, mode, k, boosts=boosts)]


# ---------------------------------------------------------------- boosts

def test_boosted_rank_identity_vs_oracle(spark, built):
    idx, oracle = built
    eng = SearchEngine(spark, idx)
    for boosts in ({"w3": 2.0}, {"w0": 0.25, "w11": 3.0},
                   {"w0": 10.0}, {"w0": 1.0, "w3": 1.0, "w11": 1.0}):
        for mode in ("disjunctive", "conjunctive"):
            got = _rows(eng.search(TERMS, mode, 10, boosts=boosts))
            assert got == _want(oracle, TERMS, mode, 10, boosts), \
                (mode, boosts)


def test_boost_one_is_plain_path(spark, built):
    idx, _ = built
    eng = SearchEngine(spark, idx)
    assert _rows(eng.search(TERMS, "disjunctive", 10)) == \
        _rows(eng.search(TERMS, "disjunctive", 10,
                         boosts={t: 1.0 for t in TERMS}))


def test_boost_pruned_and_bulk_identical(spark, built):
    idx, _ = built
    eng = SearchEngine(spark, idx)
    b = {"w3": 5.0, "w0": 0.5}
    a = _rows(eng.search(TERMS, "disjunctive", 10, prune=True, boosts=b))
    c = _rows(eng.search(TERMS, "disjunctive", 10, prune=False, boosts=b))
    assert a == c and a


def test_boost_actually_reorders(spark, built):
    """A big enough boost on a term must change the top-k head — the
    feature is exercised, not vacuous."""
    idx, oracle = built
    eng = SearchEngine(spark, idx)
    plain = [d for d, _ in _rows(eng.search(TERMS, "disjunctive", 10))]
    boosted = [d for d, _ in
               _rows(eng.search(TERMS, "disjunctive", 10,
                                boosts={"w11": 50.0}))]
    assert plain != boosted


def test_query_string_boost_routing(spark, built):
    idx, oracle = built
    eng = SearchEngine(spark, idx)
    got = _rows(eng.search_query_string("w3^2 w0 w11", 10))
    want = _rows(eng.search(TERMS, "disjunctive", 10,
                            boosts={"w3": 2.0}))
    assert got == want and got
    # AND context carries boosts too (ES query_string allows both)
    got = _rows(eng.search_query_string("w3^2 AND w0", 10))
    want = _rows(eng.search(["w0", "w3"], "conjunctive", 10,
                            boosts={"w3": 2.0}))
    assert got == want
    # composes with a field filter (filter context never reweights)
    got = _rows(eng.search_query_string("lang:en w3^2 w0", 10))
    assert got  # semantic identity pinned via the gate oracle


def test_boost_refusals(spark, built):
    idx, _ = built
    eng = SearchEngine(spark, idx)
    for q in ("w3^0 w0", "w3^ w0", "w3^2^3", "ma*^2", '"w3 w0"^2',
              '"w3^2 w0"', "(w3^2 OR w0) AND w11", "w3^2 w3^3",
              "w3 w3^2"):
        with pytest.raises(ValueError):
            eng.search_query_string(q, 10)
    with pytest.raises(ValueError):
        eng.search(TERMS, "disjunctive", 10, boosts={"w3": -1.0})


def test_parser_boost_marker_shape():
    terms, mode = parse_query_string("w3^2.5 w0")
    assert terms == ["w3^2.5", "w0"] and mode == "disjunctive"


# ---------------------------------------------------------------- regexp

def _py_expand_re(oracle, pattern, n=50):
    rx = re.compile(f"^(?:{pattern})$")
    hits = [(t, len(docs)) for t, docs in oracle.postings.items()
            if rx.match(t)]
    hits.sort(key=lambda td: (-td[1], td[0]))
    return [t for t, _ in hits[:n]]


PATTERNS = ("w1[0-3]", "w.", "rareterm1+", "w(1|2)0", "rare.*m1",
            "w1|rareterm1", "w5{0,1}3", ".*m1")


def test_expand_regexp_cache_path_matches_reference(spark, built):
    """Name kept from the two-path engine: the one dictionary path
    against a python re over the oracle's vocabulary."""
    idx, oracle = built
    eng = SearchEngine(spark, idx)
    for pat in PATTERNS:
        got = eng.expand_regexp(pat)
        assert got == _py_expand_re(oracle, pat), pat
        assert got, pat  # every pattern matches something — not vacuous
        assert eng.expand_regexp(pat, 2) == _py_expand_re(oracle, pat, 2)


def test_expand_regexp_distributed_path_parity(spark, built):
    """Name kept from the two-path engine: the df lookups a regexp
    expansion is scored with, against the oracle."""
    idx, oracle = built
    eng = SearchEngine(spark, idx)
    exp = eng.expand_regexp("w1[0-3]")
    probe = exp + ["zzznope", "\x1furl\x1fhttps"]
    got = eng.term_dfs(probe)
    assert {t: got[t] for t in exp} == {
        t: len(oracle.postings[t]) for t in exp}
    assert "zzznope" not in got and "\x1furl\x1fhttps" in got
    assert eng.vocab_size() == len(oracle.postings)


def test_query_string_regexp_scores_expansion(spark, built):
    idx, oracle = built
    eng = SearchEngine(spark, idx)
    exp = eng.expand_regexp("w1[0-3]")
    assert len(exp) > 1
    got = _rows(eng.search_query_string("/w1[0-3]/", 10))
    assert got == _want(oracle, exp, "disjunctive", 10) and got
    # regexp inside a boolean group expands within its group
    got2 = _rows(eng.search_query_string("(/w1[0-3]/) AND w0", 10))
    assert got2


def test_regexp_anchored_whole_term(spark, built):
    """`/w1/` must match ONLY the term w1 (Lucene implicit anchoring),
    never w10..w19."""
    idx, oracle = built
    eng = SearchEngine(spark, idx)
    assert eng.expand_regexp("w1") == ["w1"]


def test_regexp_refusals(spark, built):
    idx, _ = built
    eng = SearchEngine(spark, idx)
    for q in ("/w1./ AND w0", r"/w\d/", "/w[/", "/w5{,1}3/", "/w5*+3/"):
        with pytest.raises(ValueError):
            eng.search_query_string(q, 10)
    # uppercase is LOWERCASED, not refused (the wildcard contract)
    assert eng.expand_regexp("w1") == ["w1"]
    got = _rows(eng.search_query_string("/W1/", 10))
    assert got == _rows(eng.search_query_string("/w1/", 10))
