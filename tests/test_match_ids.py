"""SearchEngine.match_ids — the FULL match set behind query-filtered
dashboard panels (Kibana query-bar contract: panels aggregate over every
matching doc, never a scored top-k).

Exactness vs a brute-force tokenizer oracle for every mode, with filters,
and across tombstones (upserted-away docs must vanish from match sets).
"""

import pytest

from picdexer_spark.fixtures.pages import gen_pages
from picdexer_spark.functions.tokenize import tokenize_py
from picdexer_spark.index.build import IndexConfig, build_index
from picdexer_spark.query.bm25 import SearchEngine

N = 500


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = gen_pages(N, seed=11)
    idx = str(tmp_path_factory.mktemp("matchidx"))
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(shard_range=128, store_positions=True))
    return idx, pdf


def _toks(pdf):
    urls = sorted(pdf["url"])
    by_url = pdf.set_index("url")
    return ({i: tokenize_py(by_url.loc[u, "text"] or "")
             for i, u in enumerate(urls)},
            {i: by_url.loc[u, "lang"] for i, u in enumerate(urls)})


def _ids(df):
    return sorted(int(r["doc_id"]) for r in df.collect())


def test_match_ids_modes_exact(spark, built):
    idx, pdf = built
    eng = SearchEngine(spark, idx)
    toks, _ = _toks(pdf)
    terms = ["w1", "w4"]
    assert _ids(eng.match_ids(terms, "disjunctive")) == sorted(
        i for i, v in toks.items() if any(t in v for t in terms))
    assert _ids(eng.match_ids(terms, "conjunctive")) == sorted(
        i for i, v in toks.items() if all(t in v for t in terms))
    # phrase: adjacent bigram taken from a real doc
    ph = None
    for v in toks.values():
        if len(v) >= 2 and v[0] != v[1]:
            ph = [v[0], v[1]]
            break
    want_ph = sorted(
        i for i, v in toks.items()
        if any(v[j] == ph[0] and v[j + 1] == ph[1]
               for j in range(len(v) - 1)))
    assert _ids(eng.match_ids(ph, "phrase")) == want_ph
    # missing term: conjunctive empty, disjunctive falls back to the rest
    assert _ids(eng.match_ids(["w1", "zzznope"], "conjunctive")) == []
    assert _ids(eng.match_ids(["w1", "zzznope"], "disjunctive")) == sorted(
        i for i, v in toks.items() if "w1" in v)


def test_match_ids_filters_and_match_all(spark, built):
    idx, pdf = built
    eng = SearchEngine(spark, idx)
    toks, langs = _toks(pdf)
    lang = sorted(l for l in set(langs.values()) if l)[0]
    got = _ids(eng.match_ids(["w1", "w4"], "disjunctive",
                             filters=[("lang", lang)]))
    assert got == sorted(
        i for i, v in toks.items()
        if langs[i] == lang and ("w1" in v or "w4" in v))
    # empty terms = match_all within the filter / the whole live corpus
    assert _ids(eng.match_ids([], filters=[("lang", lang)])) == sorted(
        i for i, lg in langs.items() if lg == lang)
    assert _ids(eng.match_ids([])) == sorted(toks)


def test_match_ids_refuses_what_search_refuses(spark, built):
    """match_ids shares search's set-up, so it refuses the same
    arguments: slop on a non-phrase mode, a negative slop, an unknown
    mode and `groups` without mode "groups" — match_all (empty terms)
    included. A phrase with slop still matches."""
    idx, _ = built
    eng = SearchEngine(spark, idx)
    for kw in (dict(terms=["w1", "w4"], mode="disjunctive", slop=1),
               dict(terms=["w1", "w4"], mode="conjunctive", slop=2),
               dict(terms=["w1", "w4"], mode="phrase", slop=-1),
               dict(terms=[], mode="bogus"),
               dict(terms=[], mode="disjunctive", groups=[["w0"]])):
        with pytest.raises(ValueError):
            eng.match_ids(**kw)
    assert set(_ids(eng.match_ids(["w1", "w4"], "phrase"))) <= \
        set(_ids(eng.match_ids(["w1", "w4"], "phrase", slop=2)))


def test_count_matches_match_set_size(spark, built):
    """ES _count == len(match set), every mode/filter combination rides
    the same kernels."""
    idx, pdf = built
    eng = SearchEngine(spark, idx)
    toks, langs = _toks(pdf)
    terms = ["w1", "w4"]
    disj = {i for i, v in toks.items() if any(t in v for t in terms)}
    conj = {i for i, v in toks.items() if all(t in v for t in terms)}
    assert eng.count(terms, "disjunctive") == len(disj)
    assert eng.count(terms, "conjunctive") == len(conj)
    assert eng.count(terms, "disjunctive", [("lang", "=", "en")]) == \
        len({i for i in disj if langs[i] == "en"})
    assert eng.count([], "disjunctive") == len(toks)  # match_all
    assert eng.count(["zzz-nope"], "conjunctive") == 0


def test_filters_agg_named_buckets(spark, built):
    """ES filters agg: one bucket per named kuery query, declaration
    order, values = brute-force match counts; refuses empty config."""
    idx, pdf = built
    eng = SearchEngine(spark, idx)
    toks, langs = _toks(pdf)
    got = [(r["key"], int(r["n"])) for r in eng.filters_agg({
        "en": "lang:en *",
        "w1w4": "w1 AND w4",
        "nothing": "zzz-nope",
    }).collect()]
    want = [
        ("en", sum(1 for lg in langs.values() if lg == "en")),
        ("w1w4", sum(1 for v in toks.values()
                     if "w1" in v and "w4" in v)),
        ("nothing", 0),
    ]
    assert got == want
    with pytest.raises(ValueError):
        eng.filters_agg({})


def test_match_ids_excludes_tombstones(spark, tmp_path):
    from picdexer_spark.streaming.incremental import build_incremental

    idx = str(tmp_path / "matchups")
    pdf = gen_pages(80, seed=13)
    build_incremental(spark, spark.createDataFrame(pdf), idx,
                      IndexConfig(shard_range=64), source_id="b0")
    row = pdf.iloc[5:6].copy()
    old_first = tokenize_py(row["text"].iloc[0])[0]
    row["text"] = "zzzmarker only"
    row["html"] = None
    build_incremental(spark, spark.createDataFrame(row), idx,
                      IndexConfig(shard_range=64), source_id="b1")
    eng = SearchEngine(spark, idx)
    marker = _ids(eng.match_ids(["zzzmarker"], "disjunctive"))
    assert len(marker) == 1
    # the OLD doc_id (tombstoned) must not appear for its old terms
    old_ids = _ids(eng.match_ids([old_first], "disjunctive"))
    live_ids = {int(r["doc_id"]) for r in eng.cat.read_live_docs(
        spark, eng.snapshot_id).select("doc_id").collect()}
    assert set(old_ids) <= live_ids


def test_significant_terms_jlh(spark, built):
    """significant_terms pins the ES JLH heuristic exactly: score, counts,
    and (score desc, term asc) order vs a python reference; empty match
    set -> empty result."""
    import collections

    idx, pdf = built
    eng = SearchEngine(spark, idx)
    toks, _ = _toks(pdf)
    q = ["w7"]
    m = {i for i, v in toks.items() if "w7" in v}
    n_fg, n = len(m), len(toks)
    assert 0 < n_fg < n
    fg = collections.Counter()
    bg = collections.Counter()
    for i, v in toks.items():
        for t in set(v):
            bg[t] += 1
            if i in m:
                fg[t] += 1
    want = []
    for t, f in fg.items():
        fgp, bgp = f / n_fg, bg[t] / n
        if fgp > bgp:
            want.append((t, f, bg[t], (fgp - bgp) * (fgp / bgp)))
    want.sort(key=lambda x: (-x[3], x[0]))

    got = eng.significant_terms(q, k=8).collect()
    assert len(got) == min(8, len(want))
    for r, (t, f, b, s) in zip(got, want[:8]):
        assert (r["term"], int(r["fg_df"]), int(r["bg_df"])) == (t, f, b)
        assert float(r["score"]) == pytest.approx(s, rel=1e-12)
    # the query term itself is trivially significant (ES keeps it)
    assert want[0][0] == "w7" and got[0]["term"] == "w7"

    assert eng.significant_terms(["zzznope"]).count() == 0


def test_more_like_this_matches_python_reference(spark, built):
    """MLT pins the ES defaults: interesting terms = tf>=min_term_freq,
    df>=min_doc_freq, top max_query_terms by tf*idf (ties term asc);
    result = disjunctive search over them minus the source doc."""
    import collections

    from picdexer_spark.query.bm25 import idf

    idx, pdf = built
    eng = SearchEngine(spark, idx)
    toks, _ = _toks(pdf)
    src = next(i for i in sorted(toks) if len(toks[i]) >= 30)
    dfc = collections.Counter()
    for v in toks.values():
        dfc.update(set(v))
    tf = collections.Counter(toks[src])
    scored = sorted(
        (-(c * idf(len(toks), dfc[t])), t)
        for t, c in tf.items() if c >= 2 and dfc[t] >= 5
    )
    want_terms = [t for _s, t in scored[:25]]
    assert len(want_terms) >= 5
    want = [(d, s) for d, s in
            eng.search_topk(want_terms, "disjunctive", 11) if d != src][:10]
    got = [(int(r["doc_id"]), float(r["score"]))
           for r in eng.more_like_this(src, k=10).collect()]
    assert got == want
    assert src not in {d for d, _ in got}

    # restrictive thresholds can empty the query -> empty result, not error
    assert eng.more_like_this(src, k=5, min_term_freq=10**6).count() == 0
    with pytest.raises(ValueError, match="not found"):
        eng.more_like_this(10**9)
