"""Multi-field BM25 (round 5): the url column as a second SCORED text
field, plus ES multi_match across (text, url).

The ES mapping contract (reference internal/setup/assets/picdexer.json:
67-93) makes every string field text + .keyword; Lucene scores each text
field with its OWN statistics (df, docCount, avgdl). Here url tokens ride
the same posting pipeline namespaced `\\x1furl\\x1f<tok>` with the url
token count as dl, so the unchanged kernels produce per-field BM25
exactly. Pins:

- url-field search rank/score identity vs a python OracleIndex built
  over the URL STRINGS (its own df/N/avgdl);
- field isolation: a url-only token scores on field='url' and misses on
  the content field; content stats (n_docs/avgdl) are unchanged by the
  url postings;
- phrase-on-url (positions ride the same pipeline, own ordinal space);
- multi_match most_fields (sum) and best_fields (dis_max + tie_breaker)
  vs the two-oracle reference;
- the content dictionary surface never leaks the namespace: fuzzy,
  wildcard (incl. leading-star sweeps) and suggest exclude `\\x1f` terms;
- upsert + delete_by_query keep the url-field stats equal to a fresh
  build over the survivors (and compact restores exactness);
- an index built with index_url_field=False refuses field='url'.
"""

import pytest
from pyspark.sql import functions as F

from picdexer_spark.fixtures.pages import gen_pages
from picdexer_spark.index.build import IndexConfig, build_index
from picdexer_spark.oracle.reference import OracleIndex
from picdexer_spark.query.bm25 import SearchEngine
from picdexer_spark.sources.catalog import URL_FIELD_NS

N = 500


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = gen_pages(N, seed=61)
    idx = str(tmp_path_factory.mktemp("mfidx"))
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(shard_range=128, store_positions=True))
    urls = sorted(pdf["url"])
    by_url = pdf.set_index("url")
    text_oracle = OracleIndex(
        [(i, by_url.loc[u, "text"]) for i, u in enumerate(urls)]
    )
    url_oracle = OracleIndex(list(enumerate(urls)))
    return idx, text_oracle, url_oracle


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def test_url_field_search_matches_oracle(spark, built):
    idx, _, url_oracle = built
    eng = SearchEngine(spark, idx)
    for terms in (["site3"], ["site3", "site17"], ["https"]):
        got = _rows(eng.search(terms, "disjunctive", 10, field="url"))
        want = [(d, round(s, 9))
                for d, s in url_oracle.search(terms, "disjunctive", 10)]
        assert got == want and got, terms


def test_url_field_isolation_and_own_stats(spark, built):
    idx, _, url_oracle = built
    eng = SearchEngine(spark, idx)
    assert eng.has_url_field
    # per-field corpus stats: every fixture url tokenizes non-empty, and
    # the totals equal the oracle's token counts over the URL strings
    assert eng.url_n_docs == N
    assert eng.url_total_len == sum(url_oracle.doc_len.values())
    assert eng.url_avgdl == pytest.approx(
        eng.url_total_len / eng.url_n_docs)
    # 'https' lives in every URL and (with overwhelming probability for
    # this seed) in no generated text: content search misses, url hits
    assert eng.search(["https"], "disjunctive", 5).count() == 0
    assert eng.search(["https"], "disjunctive", 5, field="url").count() == 5
    # content statistics are untouched by the url postings
    docs = eng.cat.read_live_docs(spark, eng.snapshot_id)
    from picdexer_spark.functions.tokenize import tokens_col
    real_avgdl = (docs.agg(F.avg(F.size(tokens_col("text"))))
                  .first()[0])
    assert eng.avgdl == pytest.approx(real_avgdl)


def test_phrase_on_url(spark, built):
    idx, _, url_oracle = built
    eng = SearchEngine(spark, idx)
    got = _rows(eng.search(["site3", "example"], "phrase", 10, field="url"))
    want = [(d, round(s, 9))
            for d, s in url_oracle.search_phrase(["site3", "example"], 10)]
    assert got == want and got


def test_multi_match_most_and_best_fields(spark, built):
    idx, text_oracle, url_oracle = built
    eng = SearchEngine(spark, idx)
    terms = ["site3", "w0"]

    def field_scores(oracle):
        return dict(oracle.search(terms, "disjunctive", N))

    ts, us = field_scores(text_oracle), field_scores(url_oracle)
    docs = set(ts) | set(us)

    def expect(kind, tie):
        scored = []
        for d in docs:
            a, b = ts.get(d, 0.0), us.get(d, 0.0)
            if kind == "most":
                s = a + b
            else:
                mx, mn = max(a, b), min(a, b)
                s = mx + tie * mn
            scored.append((d, round(s, 9)))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:10]

    got_most = _rows(eng.multi_match(terms, 10, "most_fields"))
    assert got_most == expect("most", 0.0)
    got_best = _rows(eng.multi_match(terms, 10, "best_fields",
                                     tie_breaker=0.3))
    assert got_best == expect("best", 0.3)
    # tie_breaker=1.0 degenerates to most_fields
    assert _rows(eng.multi_match(terms, 10, "best_fields",
                                 tie_breaker=1.0)) == got_most
    # cross_fields is implemented since round 5 wave 5 (its own test
    # below); a genuinely unknown type still refuses
    with pytest.raises(ValueError):
        eng.multi_match(terms, 10, "bool_prefix_fields")
    with pytest.raises(ValueError):
        eng.multi_match(terms, 10, "best_fields", tie_breaker=1.5)


def test_dictionary_surface_never_leaks_namespace(spark, built):
    idx, _, _ = built
    eng = SearchEngine(spark, idx)
    # leading-star wildcard sweeps the dictionary — must skip \x1f terms
    assert all(not t.startswith("\x1f")
               for t in eng.expand_wildcard("*ite3"))
    # fuzzy: 'urlsite3'-ish shapes would be 2 edits from the namespaced
    # term if the vocab matrix included it
    for t in eng.expand_fuzzy("urlp", 2):
        assert not t.startswith("\x1f")
    dist = SearchEngine(spark, idx, preload_stats_max_terms=0)
    for t in dist.expand_fuzzy("urlp", 2):
        assert not t.startswith("\x1f")
    # the dictionary path: namespaced dfs resolve per field, and the
    # vocabulary count leaves the url namespace out
    _, text_oracle, url_oracle = built
    probe = ["https", "zzznope"] + [
        URL_FIELD_NS + t for t in ("https", "zzznope")]
    want = {URL_FIELD_NS + "https": len(url_oracle.postings["https"])}
    if "https" in text_oracle.postings:
        want["https"] = len(text_oracle.postings["https"])
    assert dist.term_dfs(probe) == eng.term_dfs(probe) == want
    assert dist.vocab_size() == eng.vocab_size() == len(text_oracle.postings)
    assert all(not t.startswith("\x1f")
               for t, _df in eng.suggest("s", 50))


def test_refusal_without_url_postings(spark, tmp_path):
    idx = str(tmp_path / "nourl")
    build_index(spark, spark.createDataFrame(gen_pages(120, seed=9)), idx,
                IndexConfig(shard_range=128, index_url_field=False))
    eng = SearchEngine(spark, idx)
    assert not eng.has_url_field and eng.url_n_docs == 0
    with pytest.raises(ValueError):
        eng.search(["https"], "disjunctive", 5, field="url")
    with pytest.raises(ValueError):
        eng.multi_match(["https"], 5)
    # and no namespaced terms exist at all
    assert eng.term_stats.filter(
        F.col("term").startswith("\x1f")).count() == 0


def test_mutations_keep_url_stats_exact(spark, tmp_path):
    from picdexer_spark.functions.tokenize import tokens_col
    from picdexer_spark.streaming.incremental import (
        build_incremental,
        compact,
        delete_by_query,
    )

    idx = str(tmp_path / "muturl")
    base = gen_pages(300, seed=71)
    build_index(spark, spark.createDataFrame(base), idx,
                IndexConfig(shard_range=128, store_positions=True))
    # append a batch: 20 re-crawled urls (changed text -> upsert) + 40
    # NEW urls (one extra url token each)
    import pandas as pd

    upserts = base.iloc[:20].copy()
    upserts["text"] = "changed content body"
    upserts["html"] = None
    news = base.iloc[20:60].copy()
    news["url"] = news["url"] + "/extra"
    news["html"] = None
    batch = pd.concat([upserts, news], ignore_index=True)
    build_incremental(spark, spark.createDataFrame(batch), idx,
                      IndexConfig(shard_range=128, store_positions=True),
                      source_id="b1")
    delete_by_query(spark, idx, ["w0"], "disjunctive")

    def expected(eng):
        live = eng.cat.read_live_docs(spark, eng.snapshot_id)
        r = live.agg(
            F.coalesce(F.sum(F.size(tokens_col("url"))), F.lit(0)).alias("l"),
            F.count(F.when(F.size(tokens_col("url")) > 0, F.lit(1)))
            .alias("n"),
        ).first()
        return int(r["l"]), int(r["n"])

    eng = SearchEngine(spark, idx)
    want_len, want_n = expected(eng)
    assert (eng.url_total_len, eng.url_n_docs) == (want_len, want_n)
    # url-field queries stay correct through the mutations: compare the
    # tombstone-adjusted engine against a FRESH build over the survivors
    compact(spark, idx)
    eng2 = SearchEngine(spark, idx)
    assert (eng2.url_total_len, eng2.url_n_docs) == (want_len, want_n)
    assert eng2.url_avgdl == pytest.approx(want_len / want_n)


def test_cross_fields_is_per_term_best_field_sum(spark, built):
    """multi_match cross_fields (term-centric): every term contributes
    its best single-field score, summed — vs the two oracles."""
    idx, text_oracle, url_oracle = built
    eng = SearchEngine(spark, idx)
    terms = ["spark", "site3"]  # one content word, one url word
    got = _rows(eng.multi_match(terms, 20, "cross_fields"))
    want = {}
    for d in range(N):
        s = 0.0
        matched = False
        for t in terms:
            ts = text_oracle.score_one(t, d)
            us = url_oracle.score_one(t, d)
            if ts or us:
                matched = True
            s += max(ts, us)
        if matched:
            want[d] = s
    top = sorted(want.items(), key=lambda it: (-it[1], it[0]))[:20]
    assert got == [(d, round(s, 9)) for d, s in top] and got
    with pytest.raises(ValueError):
        eng.multi_match(terms, 5, "phrase_fields")


def test_span_first_requires_early_position(spark, built):
    """ES span_first: the term must occur within the first `end` token
    positions; score = the term's BM25 — vs the oracle token lists."""
    idx, text_oracle, _ = built
    eng = SearchEngine(spark, idx)
    term = "w0"
    base = dict(text_oracle.search([term], "disjunctive", N))
    for end in (1, 3, 10):
        got = [(r["doc_id"], round(r["score"], 9)) for r in
               eng.span_first(term, end, N).collect()]
        want = sorted(
            ((d, round(s, 9)) for d, s in base.items()
             if term in text_oracle.tokens[d][:end]),
            key=lambda it: (-it[1], it[0]))
        assert got == want, end
    # tightening `end` strictly shrinks the match set on this corpus
    n1 = eng.span_first(term, 1, N).count()
    n200 = eng.span_first(term, 200, N).count()
    assert 0 < n1 < n200
    with pytest.raises(ValueError):
        eng.span_first(term, 0)


def test_analyze_is_the_index_analyzer(spark, built):
    eng = SearchEngine(spark, built[0])
    assert eng.analyze("Foo-BAR 42 baz!") == ["foo", "bar", "42", "baz"]
    assert eng.analyze("") == []
