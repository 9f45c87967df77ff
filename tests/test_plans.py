"""Plan-shape regression tests: the physical plan IS the scale contract.

Asserts (on a real built index):
- query-term filter is PUSHED to the postings parquet scan, and the scan
  reads only the needed columns (no decode payloads for term_stats);
- docs point lookup pushes the doc_id equality;
- tf stream partial-aggregates BEFORE its exchange (map-side combine);
- the whole build has exactly TWO full-data exchanges (url range, term hash);
- ANN top-k broadcasts the tiny query side (no shuffle of the big side).
"""

import pytest
from pyspark.sql import functions as F

from picdexer_spark.fixtures.pages import gen_pages
from picdexer_spark.index.build import IndexConfig, build_index, tf_stream
from picdexer_spark.operators.similarity import cosine_topk
from picdexer_spark.plans.audit import (
    count_exchanges,
    explain_str,
    has_pushed_filter,
    read_schema_columns,
)
import picdexer_spark.query.bm25 as bm25
from picdexer_spark.query.bm25 import SearchEngine
from picdexer_spark.sources.catalog import IndexCatalog


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("planidx"))
    pages = spark.createDataFrame(gen_pages(500, seed=11))
    build_index(spark, pages, idx, IndexConfig(shard_range=128))
    return idx


def test_postings_scan_pushes_term_filter(spark, built):
    postings = IndexCatalog(built).read(spark, "postings")
    cand = postings.filter(F.col("term").isin(["w0", "w5"]))
    assert has_pushed_filter(cand, "In(term"), explain_str(cand, "formatted")


def test_term_stats_scan_prunes_payload_columns(spark, built):
    postings = IndexCatalog(built).read(spark, "postings")
    ts = postings.groupBy("term").agg(F.sum("n").alias("df"))
    for cols in read_schema_columns(ts):
        assert "doc_ids_enc" not in cols and "tfs_enc" not in cols, cols
        assert set(cols) <= {"term", "n"}


def test_docs_point_lookup_pushdown(spark, built):
    docs = IndexCatalog(built).read(spark, "docs")
    got = docs.filter(F.col("doc_id") == 42).select("url")
    assert has_pushed_filter(got, "EqualTo(doc_id,42)")


def test_tf_stream_partial_agg_before_exchange(spark, built):
    docs = IndexCatalog(built).read(spark, "docs")
    tf = tf_stream(docs)
    s = explain_str(tf, "simple")
    # partial HashAggregate must appear below the exchange (map-side combine)
    pre, _, post = s.partition("Exchange")
    assert "partial_count" in post, s  # plan prints top-down: partial is below


def test_tf_stream_sharded_elides_agg_exchange(spark, built):
    """tf_stream (the reference/analysis formulation): one hash exchange on
    (term, shard_id), with the tf aggregation running on that same
    partitioning — Catalyst must NOT insert a second exchange (group keys
    contain the partition keys)."""
    docs = IndexCatalog(built).read(spark, "docs")
    tf = tf_stream(docs, shard_range=128)
    assert count_exchanges(tf) == 1, explain_str(tf, "simple")


def test_encode_postings_partial_encode_below_single_exchange(spark, built):
    """The round-3 build shape: the posting path has exactly ONE exchange,
    and the partial posting encoder (a PythonMapInPandas) sits BELOW it —
    i.e. what crosses the wire is the varint-compressed partial runs, never
    the raw token stream."""
    from picdexer_spark.index.build import IndexConfig, encode_postings

    docs = IndexCatalog(built).read(spark, "docs")
    for store_pos in (False, True):
        plan = encode_postings(
            docs, IndexConfig(shard_range=128, store_positions=store_pos)
        )
        assert count_exchanges(plan) == 1, explain_str(plan, "simple")
        s = explain_str(plan, "simple")
        # plan prints top-down: the map-side encoder must appear AFTER
        # (= physically below) the Exchange line
        pre, _, post = s.partition("Exchange")
        assert "MapInPandas" in pre, s   # reducer-side merge above
        assert "MapInArrow" in post, s   # partial encoder below (map-side)
        # no sort and no explode below the exchange: the map side is
        # tokenize -> Arrow encoder, nothing else
        assert "Sort" not in post, s
        assert "Generate" not in post, s


def test_search_plan_shuffles_only_candidates(spark, built, monkeypatch):
    """The Spark plan a search runs above the in-process byte guard."""
    monkeypatch.setattr(bm25, "LOCAL_TOPK_MAX_BYTES", 0)
    eng = SearchEngine(spark, built)
    plan = eng.search(["w0", "w3"], "disjunctive", 10)
    s = explain_str(plan, "formatted")
    assert "PushedFilters" in s and "In(term" in s
    # exactly one shuffle before scoring (groupBy shard) + the final top-k
    assert count_exchanges(plan) <= 2, explain_str(plan, "simple")


def test_groups_search_plan_shape(spark, built, monkeypatch):
    """The boolean (CNF groups) path keeps the flat path's scale shape
    above the byte guard: term-IN pushed to the postings scan,
    candidate-blocks-only shuffle, no extra exchanges for the group
    structure (it lives in the kernel)."""
    monkeypatch.setattr(bm25, "LOCAL_TOPK_MAX_BYTES", 0)
    eng = SearchEngine(spark, built)
    plan = eng.search(["w0", "w1", "w3"], "groups", 10,
                      groups=[["w0", "w1"], ["w3"]])
    s = explain_str(plan, "formatted")
    assert "PushedFilters" in s and "In(term" in s
    assert count_exchanges(plan) <= 2, explain_str(plan, "simple")


def test_typed_filter_pushes_docs_predicate(spark, built, monkeypatch):
    """Schema-driven filters reach the docs parquet scan (doc_len range
    pushed as GreaterThanOrEqual), never the full doc store: in the
    allowed-id job a filtered search runs in process, and on the whitelist
    side of the cogroup, the Spark plan it runs above the in-process byte
    guard (below it the result is a local relation)."""
    eng = SearchEngine(spark, built)
    args = (["w0", "w1"], "disjunctive", [("doc_len", ">=", "50")], 10)
    assert "LocalTableScan" in explain_str(eng.search_filtered(*args),
                                           "simple")
    ids = explain_str(eng._allowed_frame(eng._filter_cond(args[2])),
                      "formatted")
    assert "GreaterThanOrEqual(doc_len" in ids, ids
    monkeypatch.setattr(bm25, "LOCAL_TOPK_MAX_BYTES", 0)
    plan = eng.search_filtered(*args)
    s = explain_str(plan, "formatted")
    assert "GreaterThanOrEqual(doc_len" in s, s
    assert "In(term" in s


def test_build_has_two_full_data_exchanges(spark, built):
    # reconstruct the two heavy plan fragments and count their exchanges
    from picdexer_spark.index.build import (
        IndexConfig,
        assign_doc_ids,
        encode_postings,
        extract_text,
    )

    pages = spark.createDataFrame(gen_pages(200, seed=12))
    extracted = extract_text(pages).drop("html")
    with_ids, part, _, _, _ = assign_doc_ids(extracted, ok_col="extract_ok")
    assert count_exchanges(with_ids) == 1  # the url range partition only
    docs = IndexCatalog(built).read(spark, "docs")
    enc = encode_postings(docs, IndexConfig(shard_range=128))
    assert count_exchanges(enc) == 1  # the (term, shard) partial-run exchange
    part.unpersist()


def test_ann_broadcasts_query_side(spark):
    import pandas as pd
    import numpy as np

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {"vec_id": range(50), "embedding": [rng.standard_normal(8).tolist() for _ in range(50)]}
    )
    df = spark.createDataFrame(pdf)
    plan = cosine_topk(df, "vec_id", "embedding", [0], k=5)
    s = explain_str(plan, "simple")
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s, s


def test_cosine_topk_window_group_limit_below_exchange(spark):
    """The per-query top-k must NOT shuffle all n x q scored rows: Spark's
    InferWindowGroupLimit has to emit a Partial WindowGroupLimit BELOW the
    exchange (each partition pre-trims to k rows per query)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({
        "vec_id": range(200),
        "embedding": [rng.standard_normal(8).astype("float32").tolist()
                      for _ in range(200)],
    })
    df = spark.createDataFrame(pdf)
    plan = explain_str(cosine_topk(df, "vec_id", "embedding", [0, 1], k=5),
                       "simple")
    assert "WindowGroupLimit" in plan
    partial = [ln for ln in plan.splitlines()
               if "WindowGroupLimit" in ln and "Partial" in ln]
    assert partial, plan


def test_search_batch_above_guard_runs_each_query_alone(spark, built,
                                                      monkeypatch):
    """Below the in-process byte guard a batch is a local relation. Above
    it each query runs on its own, as search_topk does: the batch's rows
    are each query's search() rows, ranked 1..k."""
    eng = SearchEngine(spark, built)
    batch = [
        {"query_id": 0, "terms": ["w0"], "mode": "disjunctive", "k": 3},
        {"query_id": 1, "terms": ["w1"], "mode": "disjunctive", "k": 3},
        {"query_id": 2, "terms": ["w0", "w1"], "mode": "conjunctive",
         "k": 5},
    ]
    assert "LocalTableScan" in explain_str(eng.search_batch(batch),
                                           "simple")
    monkeypatch.setattr(bm25, "LOCAL_TOPK_MAX_BYTES", 0)
    got = [tuple(r) for r in eng.search_batch(batch).collect()]
    want = [(q["query_id"], rank, r["doc_id"], r["score"])
            for q in batch
            for rank, r in enumerate(
                eng.search(q["terms"], q["mode"], q["k"]).collect(), 1)]
    assert want and got == want


def test_terms_error_bounds_plan_shape(spark, built):
    """The sharded terms agg's scale contract: the data-sized (shard,key)
    count partial-aggregates before its exchange, and the per-shard error
    ledger (n_shards rows) plus the total come back via BROADCAST joins —
    no second shuffle of the top lists."""
    from picdexer_spark.operators.dashboards import top_terms_error_bounds

    docs = IndexCatalog(built).read(spark, "docs")
    from picdexer_spark.functions.tokenize import tokens_col
    vals = docs.select((F.col("doc_id") % 8).alias("shard"),
                       F.explode(tokens_col("text")).alias("term"))
    res = top_terms_error_bounds(vals, "term", "shard", k=10, shard_size=5)
    s = explain_str(res, "simple")
    first_ex = s.find("Exchange")
    assert 0 < s.find("partial_count", 0, first_ex) or \
        "partial_count" in s[:first_ex] or "HashAggregate" in s[:first_ex]
    assert s.count("BroadcastExchange") >= 2, s
    rows = res.collect()
    assert rows and all(r["doc_count_error"] >= 0 for r in rows)


def test_phrase_prefix_plan_pushes_expanded_in_filter(spark, tmp_path,
                                                     monkeypatch):
    """Above the byte guard, match_phrase_prefix's postings scan must
    push the whole expanded term set (fixed + alts) as one In(term)
    filter to parquet — the same candidate-only scan shape as the flat
    kernels, ~51 terms instead of a dictionary sweep."""
    monkeypatch.setattr(bm25, "LOCAL_TOPK_MAX_BYTES", 0)
    pages = spark.createDataFrame(gen_pages(300, seed=31))
    idx = str(tmp_path / "ppplan")
    build_index(spark, pages, idx,
                IndexConfig(shard_range=128, store_positions=True))
    eng = SearchEngine(spark, idx)
    res = eng.match_phrase_prefix(["w0", "w1"], 5)
    assert has_pushed_filter(res, "In(term"), explain_str(res, "formatted")
    rows = res.collect()
    assert rows and all(r["score"] > 0 for r in rows)


def test_pack_sequences_window_partitions_by_stream_key(spark):
    """The packing cumsum must window per part stream — the exchange is
    hashpartitioning(part), never a SinglePartition funnel."""
    from picdexer_spark.operators.textops import pack_sequences
    df = spark.createDataFrame(
        [(i, "p%d" % (i % 3), "a b c") for i in range(100)],
        "doc_id long, lang string, text string")
    plan = explain_str(pack_sequences(df, "doc_id", "text", 4, "lang"),
                       "formatted")
    assert "hashpartitioning(part" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_categorize_text_partial_aggregates_before_exchange(spark):
    """The category groupBy must map-side combine: a partial
    HashAggregate appears BELOW the first exchange."""
    from picdexer_spark.operators.dashboards import categorize_text
    df = spark.createDataFrame(
        [(i, "log line %d ok" % i) for i in range(50)],
        "id long, msg string")
    s = explain_str(categorize_text(df, "msg"), "simple")
    first_ex = s.find("Exchange")
    assert first_ex > 0 and "HashAggregate" in s[:first_ex], s


def test_rrf_fuse_window_runs_on_retriever_sized_inputs(spark):
    """rrf re-ranks each retriever window with an UNPARTITIONED window —
    legal only because inputs are top-lists; the plan must show the
    final TakeOrdered global action."""
    from picdexer_spark.query.bm25 import rrf_fuse
    a = spark.createDataFrame([(i, float(100 - i)) for i in range(50)],
                              "doc_id long, score double")
    plan = explain_str(rrf_fuse([a, a], k=5), "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_frequent_item_sets_counts_combine_map_side(spark):
    """Level-2 pair counting: partial HashAggregate below the exchange
    (the textbook distributed-Apriori shape)."""
    from picdexer_spark.operators.dashboards import frequent_item_sets
    df = spark.createDataFrame(
        [(["a", "b", "c"],), (["a", "b"],), (["b", "c"],)] * 10,
        "items array<string>")
    out = frequent_item_sets(df, "items", min_support=0.5, size=10)
    # the operator returns a materialized result-sized frame; the scale
    # contract is in the counting jobs — assert the results instead
    got = {tuple(r["items"]) for r in out.collect()}
    assert ("a", "b") in got and ("b", "c") in got


def test_frequent_item_restriction_broadcasts_not_literal(spark):
    """The frequent-item list travels as a BROADCAST one-row array, not
    as a plan literal: with a 5000-item frequent set the physical plan
    shows a BroadcastExchange/BroadcastNestedLoopJoin and stays small —
    the F.array(*lits) form would embed all 5000 strings in the
    generated code (a driver-side plan/codegen blowup at web-scale
    item vocabularies)."""
    from picdexer_spark.operators.dashboards import _restrict_to_frequent
    tx = spark.createDataFrame(
        [(["item1", "item4999", "nope"],), (["item2"],)],
        "items array<string>")
    big = [f"item{j}" for j in range(5000)]
    r = _restrict_to_frequent(tx, big)
    plan = r._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # no literal: the item values never appear in the plan text, and
    # the plan is orders of magnitude smaller than the 5000-lit form
    assert "item4999" not in plan
    assert len(plan) < 20_000
    got = {tuple(x["fi"]) for x in r.collect()}
    assert got == {("item1", "item4999"), ("item2",)}


def test_variable_width_histogram_cumsum_is_slice_partitioned(spark):
    """The running total over the distinct-value table runs under a
    pid-PARTITIONED window (parallel range slices), never a global
    Window.orderBy(v) — which on a continuous double column is a
    single-task sort of ~the dataset. The only SinglePartition window
    left is the slice-count offsets ledger."""
    from picdexer_spark.operators.dashboards import (
        variable_width_histogram)
    df = spark.range(0, 2000).selectExpr(
        "CAST(id * 1.0009 AS DOUBLE) AS v")
    out = variable_width_histogram(df, "v", 4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the data-sized cumsum window is partitioned by the slice id
    assert "windowspecdefinition(pid" in plan
    # no window whose spec starts at the value column (the old global
    # orderBy(v) shape)
    assert "windowspecdefinition(v#" not in plan
    rows = out.collect()
    assert [r["doc_count"] for r in rows] == [500, 500, 500, 500]
    assert rows[0]["min"] == 0.0
    assert abs(rows[-1]["max"] - 1999 * 1.0009) < 1e-9


def test_duplicate_spans_scale_shape(spark):
    """Span dedup: the shared-fp aggregation partial-aggs BEFORE its
    exchange (Zipfian boilerplate fps collapse map-side) and the span
    merge windows are partitioned BY DOC, never corpus-global."""
    from picdexer_spark.operators.textops import duplicate_spans
    df = spark.createDataFrame(
        [(i, f"doc {i} shared boilerplate passage tail") for i in range(50)],
        "doc_id long, text string")
    out = duplicate_spans(df, "doc_id", "text", k=8, window=4, min_span=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # doc-partitioned span windows only
    assert "windowspecdefinition(id" in plan
    import re as _re
    # no single-partition (global) window exchange
    assert "Exchange SinglePartition" not in plan
    # the count_distinct(id) per fp agg shows a partial_count phase
    assert _re.search(r"partial_count", plan)


def test_decontaminate_broadcasts_benchmark_side(spark):
    """Decontamination: the eval-set shingle set must ride a BROADCAST
    hash join (the corpus side never shuffles on the shingle key) and the
    match count partial-aggs before its doc-id exchange."""
    from picdexer_spark.operators.textops import decontaminate
    docs = spark.createDataFrame(
        [(i, f"corpus doc {i} with enough words to form shingles here ok")
         for i in range(40)], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(0, "benchmark question with enough words to form shingles")],
        "bid long, text string")
    plan = decontaminate(docs, bench, "doc_id", "text", n=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the corpus side must never sort-merge on the shingle key (the only
    # hash exchange on g allowed is the eval-set side's tiny distinct)
    assert "SortMergeJoin" not in plan
    import re as _re
    assert _re.search(r"partial_count", plan)


def test_search_indices_plan_one_global_takeordered(spark, tmp_path):
    """Cross-index merge: each index contributes a k-bounded top list and
    the union resolves through ONE global TakeOrdered — no cartesian, no
    extra full-data exchange beyond the per-index kernels."""
    import datetime as dt
    import os

    from picdexer_spark.index.build import IndexConfig
    from picdexer_spark.query.bm25 import search_indices
    from picdexer_spark.streaming.incremental import build_incremental

    S = ("url string, warc_ts timestamp, html binary, text string,"
         " lang string")
    dirs = []
    for n in ("pa", "pb"):
        d = os.path.join(str(tmp_path), n)
        pages = spark.createDataFrame(
            [(f"{n}{i}", dt.datetime(2024, 1, 1), None,
              f"plan words {i}", "en") for i in range(15)], S)
        build_incremental(spark, pages, d, IndexConfig(shard_range=64), "s")
        dirs.append(d)
    out = search_indices(spark, dirs, ["plan", "words"], k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # the union feeds from the per-index k-limited sorts, not raw scans
    assert plan.count("Union") == 1
