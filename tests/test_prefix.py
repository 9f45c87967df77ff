"""kuery trailing-`*` prefix queries (ES/kuery prefix construct over the
analyzed text field — the discover box `mach*` syntax).

- parser accept/refuse boundaries for `*` placement;
- expand_prefix / expand_fuzzy / term_dfs / vocab_size: the
  term-dictionary answers equal a brute force over the whole term_stats
  table (top_terms_N rewrite pinned: df desc, term asc, cap);
- end-to-end: search_query_string over a prefix is bit-identical to
  search() over the manually expanded term set (scoring_boolean — each
  expanded term keeps its own idf).
"""

import pytest

from picdexer_spark.fixtures.pages import gen_pages
from picdexer_spark.index.build import IndexConfig, build_index
from picdexer_spark.query.bm25 import SearchEngine
from picdexer_spark.query.parser import parse_kuery, parse_query_string
from picdexer_spark.sources.catalog import URL_FIELD_NS, IndexCatalog

N = 600


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = gen_pages(N, seed=31)
    idx = str(tmp_path_factory.mktemp("prefidx"))
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(shard_range=128))
    return idx


def _dictionary(idx) -> dict[str, int]:
    """{term: df} of the whole term_stats table — the brute-force side."""
    tbl = IndexCatalog.read_arrow(
        IndexCatalog(idx).nearest_table_path("term_stats"))
    return dict(zip(tbl.column("term").to_pylist(),
                    tbl.column("df").to_pylist()))


def test_parser_prefix_boundaries():
    assert parse_query_string("mach*") == (["mach*"], "disjunctive")
    assert parse_query_string("Mach* OR batch") == (
        ["mach*", "batch"], "disjunctive")
    terms, mode, filters = parse_kuery("lang:en w1* vector")
    assert (terms, mode, filters) == (["w1*", "vector"], "disjunctive",
                                      [("lang", "=", "en")])
    # bare * is kuery match-all: contributes no scored term
    assert parse_query_string("*") == ([], "disjunctive")
    assert parse_kuery("lang:en *") == ([], "disjunctive",
                                        [("lang", "=", "en")])
    # '"part filter*"' is match_phrase_prefix since round 5 (own tests in
    # test_phrase_prefix.py) and 'ma*ch' is a VALUE WILDCARD since round 5
    # (own tests in test_wildcard.py); these remain refusals
    assert parse_query_string("ma*ch") == (["ma*ch"], "disjunctive")
    for bad in ("a AND b*", '"part fil*ter"', '"part *"', "**"):
        with pytest.raises(ValueError):
            parse_kuery(bad)
    with pytest.raises(ValueError):
        parse_kuery("lang:e* batch")  # wildcard filter value
    with pytest.raises(ValueError):
        parse_kuery("lang: batch")  # dangling qualifier must not become a term


def test_expand_prefix_order_cap_and_distributed_parity(spark, built):
    """Name kept from the two-path engine; the one dictionary path is
    checked against a brute force over the whole term_stats table."""
    vocab = _dictionary(built)
    eng = SearchEngine(spark, built)
    want_full = [t for t, _ in sorted(
        ((t, d) for t, d in vocab.items() if t.startswith("w1")),
        key=lambda td: (-td[1], td[0]))]
    assert len(want_full) > 5  # non-degenerate: w1, w1x, w1xx...
    assert eng.expand_prefix("w1") == want_full[:50]
    assert eng.expand_prefix("w1", max_expansions=3) == want_full[:3]
    assert eng.expand_prefix("zzznope") == []
    assert eng.expand_prefix_alpha("w1") == sorted(want_full)[:50]
    # df lookups and the vocabulary count: present, absent and
    # url-field-namespaced terms
    url_https = URL_FIELD_NS + "https"
    probe = want_full[:3] + ["zzznope", url_https, URL_FIELD_NS + "zzznope"]
    want_dfs = {t: vocab[t] for t in want_full[:3] + [url_https]}
    assert eng.term_dfs(probe) == want_dfs
    assert eng.term_dfs([]) == {}
    assert eng.vocab_size() == sum(
        1 for t in vocab if not t.startswith("\x1f"))


def test_prefix_search_matches_manual_expansion(spark, built):
    eng = SearchEngine(spark, built)
    expanded = eng.expand_prefix("w1")
    want = eng.search(sorted(set(expanded + ["w2"])), "disjunctive", 10) \
        .collect()
    got = eng.search_query_string("w1* OR w2", 10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
           [(r["doc_id"], r["score"]) for r in want]
    # all-miss prefix alone -> empty; with a bare term -> just that term
    assert eng.search_query_string("zzznope*", 10).count() == 0
    got2 = eng.search_query_string("zzznope* OR w2", 10).collect()
    want2 = eng.search(["w2"], "disjunctive", 10).collect()
    assert [(r["doc_id"], r["score"]) for r in got2] == \
           [(r["doc_id"], r["score"]) for r in want2]


def test_prefix_with_filter(spark, built):
    """`lang:xx w1*` — expansion composes with the cogrouped filter path."""
    eng = SearchEngine(spark, built)
    expanded = eng.expand_prefix("w1")
    langs = [r["lang"] for r in
             eng.cat.read_live_docs(spark, eng.snapshot_id)
             .select("lang").distinct().collect()]
    lang = sorted(l for l in langs if l)[0]  # '' lang can't round-trip kuery
    want = eng.search_filtered(expanded, "disjunctive",
                               [("lang", lang)], 10).collect()
    got = eng.search_query_string(f"lang:{lang} w1*", 10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
           [(r["doc_id"], r["score"]) for r in want]


def test_parser_fuzzy_boundaries():
    # bare `~` is ES fuzziness AUTO (AUTO:3,6) on the ANALYZED stem:
    # <3 chars -> exact (marker drops), 3-5 -> 1 edit, 6+ -> 2 edits
    assert parse_query_string("mach~") == (["mach~1"], "disjunctive")
    assert parse_query_string("machine~") == (["machine~2"], "disjunctive")
    assert parse_query_string("ab~") == (["ab"], "disjunctive")
    assert parse_query_string("abc~") == (["abc~1"], "disjunctive")
    assert parse_query_string("abcdef~") == (["abcdef~2"], "disjunctive")
    assert parse_query_string("Mach~1 OR batch") == (
        ["mach~1", "batch"], "disjunctive")
    assert parse_kuery("lang:en w1~2") == (
        ["w1~2"], "disjunctive", [("lang", "=", "en")])
    for bad in ("a~b", "~x", "mach~3", "a AND b~1", '"part filter~"',
                "mach~~1"):
        with pytest.raises(ValueError):
            parse_kuery(bad)


def test_fuzzy_transpositions_are_one_edit():
    """Lucene-parity fuzziness (the round-5 un-pinning of the former
    classic-Levenshtein divergence): an adjacent transposition costs ONE
    edit (OSA), so `baord~1` finds `board`; OSA never re-edits a
    transposed pair (`ca` vs `abc` stays 3, unlike unrestricted
    Damerau's 2)."""
    from picdexer_spark.query.bm25 import damerau_capped

    assert damerau_capped("baord", "board", 1) == 1
    assert damerau_capped("baord", "board", 2) == 1
    assert damerau_capped("ca", "abc", 2) == 3  # OSA, not unrestricted DL
    assert damerau_capped("part", "prat", 1) == 1
    assert damerau_capped("part", "part", 2) == 0
    assert damerau_capped("part", "xyzq", 2) == 3  # capped overflow


def test_osa_vectorized_matches_scalar():
    """The numpy kernel of the fuzzy sweep == the scalar OSA reference over a
    randomized vocabulary (the no-Python-loop rewrite parity pin)."""
    import random

    import numpy as np

    from picdexer_spark.query.bm25 import damerau_capped, osa_distances

    rng = random.Random(7)
    vocab = list({
        "".join(rng.choice("abcde") for _ in range(rng.randint(1, 8)))
        for _ in range(300)
    })
    t_arr = np.array(sorted(vocab))
    mat = t_arr.view(np.int32).reshape(len(t_arr), -1)
    lens = np.char.str_len(t_arr).astype(np.int64)
    for term in ("abc", "dcabe", "e", "abcdeabc"):
        got = osa_distances(term, mat, lens)
        for i, t in enumerate(t_arr.tolist()):
            want = damerau_capped(term, t, 10)
            assert got[i] == want, (term, t, int(got[i]), want)


def test_expand_fuzzy_order_cap_and_distributed_parity(spark, built):
    """Name kept from the two-path engine; the one row-group sweep is
    checked against a scalar OSA brute force over the whole content
    dictionary."""
    from picdexer_spark.query.bm25 import damerau_capped

    vocab = _dictionary(built)
    eng = SearchEngine(spark, built)

    def brute(term, d, pre=""):
        hits = []
        for t, df_ in vocab.items():
            if t.startswith("\x1f") or not t.startswith(pre):
                continue
            dist = damerau_capped(term, t, d)
            if dist <= d:
                hits.append((dist, -df_, t))
        hits.sort()
        return [t for _a, _b, t in hits]

    for term, d in (("w1", 1), ("w1", 2), ("w123", 1)):
        want = brute(term, d)
        assert len(want) > 3, (term, d)  # non-degenerate expansion
        assert eng.expand_fuzzy(term, d) == want[:50]
        assert eng.expand_fuzzy(term, d, max_expansions=4) == want[:4]
    # prefix constraint prunes DURING generation (before the cap)
    want_pre = brute("w1", 2, "w1")
    assert len(want_pre) > 1
    assert eng.expand_fuzzy("w1", 2, prefix="w1") == want_pre[:50]
    assert eng.expand_fuzzy("w1", 2, max_expansions=3,
                            prefix="w1") == want_pre[:3]
    assert eng.expand_fuzzy("zzzzzzzzzz", 1) == []
    with pytest.raises(ValueError):
        eng.expand_fuzzy("w1", 3)


def test_fuzzy_search_matches_manual_expansion(spark, built):
    eng = SearchEngine(spark, built)
    expanded = eng.expand_fuzzy("w1", 1)
    want = eng.search(sorted(set(expanded + ["w2"])), "disjunctive", 10) \
        .collect()
    got = eng.search_query_string("w1~1 OR w2", 10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
           [(r["doc_id"], r["score"]) for r in want]


def test_suggest_matches_distributed_scan(spark, built):
    """suggest() == the pushed dictionary scan (df desc, term asc, top-n),
    analyzed input ('W1 ' -> 'w1'), [(term, df)] shape."""
    from pyspark.sql import functions as F

    eng = SearchEngine(spark, built)
    want = [(r["term"], r["df"]) for r in
            eng.term_stats.filter(F.col("term").startswith("w1"))
            .orderBy(F.desc("df"), F.asc("term")).limit(5)
            .select("term", "df").collect()]
    assert eng.suggest("w1", 5) == want
    assert eng.suggest(" W1 ", 5) == want  # analyzer applied to the input
    assert eng.suggest("zzznope") == []
