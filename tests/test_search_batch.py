"""Batch search (whole query set in one call) — rank-identical to the
per-query path and the oracle; plus WAND pruning effectiveness."""

import numpy as np
import pytest

import picdexer_spark.query.bm25 as bm25
from picdexer_spark.fixtures.pages import gen_pages, gen_queries
from picdexer_spark.index.build import IndexConfig, build_index
from picdexer_spark.oracle.reference import OracleIndex
from picdexer_spark.query.bm25 import SearchEngine
from picdexer_spark.query.wand import (
    TermBlocks,
    score_disjunctive,
)

N = 800


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = gen_pages(N, seed=21)
    urls = sorted(pdf["url"])
    by_url = dict(zip(pdf["url"], pdf["text"]))
    oracle = OracleIndex([(i, by_url[u]) for i, u in enumerate(urls)])
    idx = str(tmp_path_factory.mktemp("batchidx"))
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(shard_range=200))
    return idx, oracle


def test_batch_matches_oracle_whole_query_set(spark, built):
    idx, oracle = built
    eng = SearchEngine(spark, idx)
    queries = [
        {"query_id": int(q.query_id), "terms": list(q.terms),
         "mode": q.mode, "k": int(q.k)}
        for q in gen_queries(seed=21).itertuples()
    ]
    rows = eng.search_batch(queries).collect()
    got: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], float(r["score"]))
        )
    for q in queries:
        exp = oracle.search(q["terms"], q["mode"], q["k"])
        g = got.get(q["query_id"], [])
        assert [d for d, _ in g] == [d for d, _ in exp], q
        for (gd, gs), (_, es) in zip(g, exp):
            assert gs == pytest.approx(es, rel=1e-12)


def test_wand_pruning_skips_segments(built, spark):
    """On a Zipf corpus the segment-pruned disjunctive path must decode
    fewer blocks than exhaustive (and return identical results)."""
    idx, oracle = built
    from picdexer_spark.sources.catalog import IndexCatalog

    # head + rare mix, k=1: the rare term's idf dwarfs the head term's
    # upper bounds, so every head-only segment must prune away
    rows = IndexCatalog(idx).read(spark, "postings").filter(
        "term in ('w0','rareterm3')"
    ).collect()
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    blocks = {
        t: TermBlocks(
            np.array([r["first_doc"] for r in rs], np.int64),
            np.array([r["last_doc"] for r in rs], np.int64),
            np.array([r["max_tf"] for r in rs], np.int64),
            np.array([r["min_dl"] for r in rs], np.int64),
            [(r["doc_ids_enc"], r["tfs_enc"], r["dls_enc"]) for r in rs],
        )
        for t, rs in by_term.items()
    }
    idf = {t: oracle.idf(t) for t in blocks}
    terms = sorted(blocks)
    pruned = score_disjunctive(terms, blocks, idf, 1.2, 0.75,
                               oracle.avgdl, 1, prune=True)
    decoded_pruned = sum(len(tb._cache) for tb in blocks.values())
    for tb in blocks.values():
        tb._cache.clear()
    exact = score_disjunctive(terms, blocks, idf, 1.2, 0.75,
                              oracle.avgdl, 1, prune=False)
    decoded_exact = sum(len(tb._cache) for tb in blocks.values())
    assert list(pruned[0]) == list(exact[0])
    assert np.allclose(pruned[1], exact[1], rtol=0, atol=0)
    assert decoded_pruned < decoded_exact, (decoded_pruned, decoded_exact)


def test_install_dashboards(spark, built):
    idx, _ = built
    from picdexer_spark.sources.catalog import IndexCatalog

    cat = IndexCatalog(idx)
    views = cat.install_dashboards(spark)
    assert "dash_statistics" in views
    assert spark.sql("SELECT n FROM dash_doc_count").first()["n"] == N
    stats = spark.sql("SELECT * FROM dash_statistics").collect()
    assert sum(r["docs_indexed"] for r in stats) == N
    assert all(r["bytes_compressed"] > 0 for r in stats)
    lin = spark.sql("SELECT * FROM dash_import_lineage").collect()
    assert sum(r["n_rows"] for r in lin) == N


def test_conjunctive_theta_pruning_skips_blocks():
    """ub-threshold pruning: after the hot driver block sets θ, tail blocks
    whose summed upper bound cannot reach θ are never decoded — and the
    result is bit-identical to the exhaustive path."""
    from picdexer_spark.index.codec import encode_blocks
    from picdexer_spark.query.wand import score_conjunctive

    # 24 disjoint 4-doc ranges, one block each (block_size=4). Term 'a' has
    # tf=10 on doc 0 (hot block), tf=1 elsewhere; term 'b' tf=1 everywhere.
    ranges = [np.arange(s, s + 4, dtype=np.uint64) for s in range(0, 24 * 40, 40)]
    all_ids = np.concatenate(ranges)
    tf_a = np.ones(all_ids.size, np.uint64)
    tf_a[0] = 10
    tf_b = np.ones(all_ids.size, np.uint64)
    dls = np.full(all_ids.size, 10, np.uint64)

    def mk(tfs):
        rows = encode_blocks(all_ids, tfs, dls, block_size=4)
        return TermBlocks(
            np.array([r["first_doc"] for r in rows], np.int64),
            np.array([r["last_doc"] for r in rows], np.int64),
            np.array([r["max_tf"] for r in rows], np.int64),
            np.array([r["min_dl"] for r in rows], np.int64),
            [(r["doc_ids_enc"], r["tfs_enc"], r["dls_enc"]) for r in rows],
        )

    idf = {"a": 1.0, "b": 1.0}
    blocks = {"a": mk(tf_a), "b": mk(tf_b)}
    pruned = score_conjunctive(["a", "b"], blocks, idf, 1.2, 0.75, 10.0, 1,
                               prune=True)
    decoded_pruned = sum(len(tb._cache) for tb in blocks.values())
    for tb in blocks.values():
        tb._cache.clear()
    exact = score_conjunctive(["a", "b"], blocks, idf, 1.2, 0.75, 10.0, 1,
                              prune=False)
    decoded_exact = sum(len(tb._cache) for tb in blocks.values())
    assert list(pruned[0]) == list(exact[0]) == [0]
    assert np.array_equal(pruned[1], exact[1])
    assert decoded_pruned < decoded_exact, (decoded_pruned, decoded_exact)


def test_query_string_parser():
    from picdexer_spark.query.parser import parse_query_string

    assert parse_query_string("a b") == (["a", "b"], "disjunctive")
    assert parse_query_string("a OR b") == (["a", "b"], "disjunctive")
    assert parse_query_string("a AND b AND c") == (["a", "b", "c"], "conjunctive")
    # query-side analysis == index-side analysis
    assert parse_query_string("Batch, AND W0-x") == (["batch", "w0", "x"],
                                                     "conjunctive")
    assert parse_query_string("") == ([], "disjunctive")
    assert parse_query_string("  ") == ([], "disjunctive")
    with pytest.raises(ValueError):
        parse_query_string("a AND b OR c")
    with pytest.raises(ValueError):
        parse_query_string("field:value")
    with pytest.raises(ValueError):
        parse_query_string("(a b)")


def test_query_string_end_to_end(spark, built):
    idx, oracle = built
    from picdexer_spark.query.bm25 import SearchEngine

    eng = SearchEngine(spark, idx)
    via_string = [(r["doc_id"], r["score"])
                  for r in eng.search_query_string("w0 AND w5", 10).collect()]
    via_api = eng.search_topk(["w0", "w5"], "conjunctive", 10)
    assert via_string == via_api
    exp = oracle.search(["w0", "w5"], "conjunctive", 10)
    assert [d for d, _ in via_string] == [d for d, _ in exp]


def test_rank_eval_metrics_match_python_reference(spark, built):
    """ES _rank_eval over the batch path: all four metric formulas vs a
    hand-rolled reference on the oracle's exact top-10 rankings."""
    import math
    idx, oracle = built[0], built[1]
    eng = SearchEngine(spark, idx)
    ratings = {d: (2 if d % 7 == 0 else (1 if d % 5 == 0 else 0))
               for d in range(300)}
    reqs = [{"id": "a", "terms": ["w0", "w3"], "ratings": ratings},
            {"id": "b", "terms": ["w11"], "ratings": ratings}]
    got = {(r, m): v for r, m, v in eng.rank_eval(
        reqs, k=10, metric=("precision", "recall",
                            "mean_reciprocal_rank", "dcg", "ndcg"))}
    judged_rel = sum(1 for v in ratings.values() if v >= 1)
    ideal = sorted(ratings.values(), reverse=True)[:10]
    idcg = sum((2 ** r - 1) / math.log2(j + 2) for j, r in enumerate(ideal))
    want_overall = {m: 0.0 for m in
                    ("precision", "recall", "mean_reciprocal_rank",
                     "dcg", "ndcg")}
    for req in reqs:
        top = oracle.search(req["terms"], "disjunctive", 10)
        rels = [ratings.get(d, 0) for d, _ in top]
        p = sum(1 for r in rels if r >= 1) / len(top)
        rc = sum(1 for r in rels if r >= 1) / judged_rel
        mrr = next((1.0 / (i + 1) for i, r in enumerate(rels) if r >= 1),
                   0.0)
        dcg = sum((2 ** r - 1) / math.log2(i + 2)
                  for i, r in enumerate(rels))
        for m, v in (("precision", p), ("recall", rc),
                     ("mean_reciprocal_rank", mrr), ("dcg", dcg),
                     ("ndcg", dcg / idcg)):
            assert abs(got[(req["id"], m)] - v) < 1e-9, (req["id"], m)
            want_overall[m] += v / len(reqs)
    for m, v in want_overall.items():
        assert abs(got[("_overall", m)] - v) < 1e-9, m
    with pytest.raises(ValueError):
        eng.rank_eval(reqs, metric="f1")
    assert eng.rank_eval([], metric="precision") == \
        [("_overall", "precision", 0.0)]


def test_batch_single_shard_fast_path_identical(spark, tmp_path_factory,
                                                monkeypatch):
    """On a single-shard tombstone-free index the in-process batch (each
    query's kernel over the one shard's blocks, no per-query merge) must
    return the rows of the general two-kernel Spark plan (the byte guard
    set to 0 forces that plan)."""
    pdf = gen_pages(400, seed=5)
    idx = str(tmp_path_factory.mktemp("ssbatch"))
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(shard_range=1 << 16))
    eng = SearchEngine(spark, idx)
    assert eng.n_docs <= eng.shard_range   # every doc in one shard
    assert not eng._tomb_counts
    queries = [
        {"query_id": 0, "terms": ["w0", "w1"], "mode": "disjunctive", "k": 5},
        {"query_id": 1, "terms": ["w0", "w2"], "mode": "conjunctive", "k": 4},
        {"query_id": 2, "terms": ["w3"], "mode": "disjunctive", "k": 3},
    ]

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in df.collect()
        )

    fast = rows(eng.search_batch(queries))
    monkeypatch.setattr(bm25, "LOCAL_TOPK_MAX_BYTES", 0)
    general = rows(eng.search_batch(queries))
    assert fast == general and len(fast) == 12
