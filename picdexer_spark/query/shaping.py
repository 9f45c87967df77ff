"""Result-set shaping over the full scored match set: ES field
collapsing, query rescoring, function_score, and sort-by-field.

All four consume :meth:`SearchEngine.match_ids` / :meth:`SearchEngine.
search` DataFrames — the scored match set stays distributed end-to-end
(the shaping transforms are one hash aggregation or one broadcast-sized
join plus a TakeOrdered; nothing data-sized reaches the driver). The ES
semantics each function pins are cited inline; the reference installs
the surface these model via its Kibana discover/dashboard assets
(internal/setup/assets/kibana.ndjson:1,8 — sorted discover projections,
scripted/score-shaped panels).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def collapse_top_k(
    eng,
    terms: list[str],
    collapse_field: str,
    k: int = 10,
    mode: str = "disjunctive",
    filters: list = (),
) -> DataFrame:
    """ES field collapsing (`collapse.field` on `_search`): the top-k
    hits with at most ONE hit — the best-scoring — per distinct value of
    `collapse_field`; groups rank by their best hit (score desc, doc_id
    asc tie-break, the ES default sort within and across groups). Docs
    with a NULL collapse field form one null group (ES doc_values
    contract for a missing keyword).

    Plan shape: the full scored match set joins the docs table on
    doc_id, then ONE partial-aggregating hash groupBy(field) takes each
    group's argmax via max(struct(score, -doc_id)) — map-side combine
    keeps skewed collapse keys cheap (no per-group window sort), and
    only k rows leave the final TakeOrdered.

    Returns (collapse value under its field name, doc_id, score)."""
    if collapse_field not in eng._docs_fields:
        raise ValueError(f"unknown collapse field {collapse_field!r}")
    scored = eng.match_ids(terms, mode, filters, with_scores=True)
    docs = eng.live_docs().select("doc_id", collapse_field)
    best = (
        scored.join(docs, "doc_id")
        .groupBy(collapse_field)
        .agg(F.max(F.struct(
            F.col("score"),
            (-F.col("doc_id")).alias("neg_id"),
        )).alias("b"))
        .select(
            collapse_field,
            (-F.col("b.neg_id")).cast("long").alias("doc_id"),
            F.col("b.score").alias("score"),
        )
    )
    return best.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def rescore_phrase(
    eng,
    terms: list[str],
    phrase_terms: list[str],
    window_size: int = 50,
    k: int = 10,
    mode: str = "disjunctive",
    query_weight: float = 1.0,
    rescore_query_weight: float = 1.0,
) -> DataFrame:
    """ES query rescoring (`rescore` on `_search`, Lucene
    QueryRescorer): re-rank the top `window_size` hits of the base query
    by blending in a phrase query's score —

        total = query_weight * base
              [+ rescore_query_weight * phrase   if the doc matches]

    (the ES default `score_mode: total`); docs in the window that do not
    match the phrase keep `query_weight * base`. Returns the top-k of
    the rescored window (k <= window_size; ES only ever reorders within
    the window).

    Plan shape: the base top-window is the engine's own pruned top-k
    run; the phrase score set is the full phrase match set (phrase
    matches are selective by construction) joined LEFT onto the
    window — a window_size-row broadcast side — then one TakeOrdered.
    """
    if k > window_size:
        raise ValueError("k must be <= window_size (ES rescore reorders "
                         "only within the window)")
    if not phrase_terms:
        raise ValueError("rescore needs a non-empty phrase")
    base = eng.search(terms, mode, window_size)
    ph = eng.match_ids(phrase_terms, "phrase", with_scores=True) \
        .withColumnRenamed("score", "phrase_score")
    # restrict the phrase score set to the window FIRST (broadcast semi
    # against the window_size-row base), so the left join's build side
    # is window-bounded no matter how common the phrase is
    ph_in = ph.join(F.broadcast(base.select("doc_id")), "doc_id")
    out = (
        base.join(F.broadcast(ph_in), "doc_id", "left")
        .select(
            "doc_id",
            (
                F.col("score") * F.lit(float(query_weight))
                + F.coalesce(
                    F.col("phrase_score")
                    * F.lit(float(rescore_query_weight)),
                    F.lit(0.0),
                )
            ).alias("score"),
        )
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


#: field_value_factor modifiers (the ES enum subset with exact SQL
#: equivalents — ln/log1p/sqrt/none; the reciprocal family is refused)
_FVF_MODIFIERS = ("none", "ln1p", "sqrt")


def function_score(
    eng,
    terms: list[str],
    field: str,
    k: int = 10,
    mode: str = "disjunctive",
    filters: list = (),
    factor: float = 1.0,
    modifier: str = "ln1p",
    boost_mode: str = "multiply",
    missing: float = 1.0,
) -> DataFrame:
    """ES function_score with a field_value_factor function:

        fv     = factor * doc[field]        (NULL -> `missing`, pre-
                                             modifier — the ES contract)
        f(fv)  = ln(1+fv) | sqrt(fv) | fv   (modifier ln1p/sqrt/none)
        score  = bm25 * f(fv)               (boost_mode multiply)
               | bm25 + f(fv)               (boost_mode sum)

    computed over the FULL match set before top-k selection (a
    function-scored query can promote any matching doc into the top-k,
    so shaping after a pruned top-k would be wrong — the whole point of
    the function is reordering beyond BM25). `field` must be a numeric
    docs-table column.

    Plan shape: full scored match set -> join docs on doc_id (projected
    to the one numeric column) -> JVM arithmetic (whole-stage codegen,
    no UDF) -> TakeOrdered(k). Returns (doc_id, score)."""
    if modifier not in _FVF_MODIFIERS:
        raise ValueError(
            f"unsupported modifier {modifier!r} (one of {_FVF_MODIFIERS})"
        )
    if boost_mode not in ("multiply", "sum"):
        raise ValueError("boost_mode must be 'multiply' or 'sum'")
    ftype = eng._docs_fields.get(field)
    if ftype is None:
        raise ValueError(f"unknown field {field!r}")
    if ftype not in ("bigint", "int", "smallint", "tinyint", "double",
                     "float", "decimal", "long"):
        raise ValueError(
            f"field_value_factor needs a numeric field ({field!r} is "
            f"{ftype})"
        )
    scored = eng.match_ids(terms, mode, filters, with_scores=True)
    docs = eng.live_docs().select("doc_id", field)
    fv = F.coalesce(F.col(field).cast("double"),
                    F.lit(float(missing))) * F.lit(float(factor))
    if modifier == "ln1p":
        fx = F.log1p(fv)
    elif modifier == "sqrt":
        fx = F.sqrt(fv)
    else:
        fx = fv
    combined = (F.col("score") * fx if boost_mode == "multiply"
                else F.col("score") + fx)
    out = scored.join(docs, "doc_id").select(
        "doc_id", combined.alias("score")
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def sort_by_field(
    eng,
    terms: list[str],
    sort_field: str,
    k: int = 10,
    mode: str = "disjunctive",
    filters: list = (),
    ascending: bool = False,
) -> DataFrame:
    """The discover grid with BOTH a query and a field sort (ES `sort`
    clause, kibana.ndjson:8 `sort:[["Date","desc"]]`): the top-k
    matching docs ordered by a docs-table column instead of _score
    (scores are not computed — the ES behavior when `track_scores` is
    off and sort is not `_score`). doc_id asc breaks ties (the stable
    shard tie-break). NULL sort values order last ascending / first
    never (dropped to the end, Lucene missing:_last default).

    Plan shape: match set (never globally scored/sorted) -> join docs
    projected to the sort column -> TakeOrdered(k). Returns (doc_id,
    <sort_field>)."""
    if sort_field not in eng._docs_fields:
        raise ValueError(f"unknown sort field {sort_field!r}")
    m = eng.match_ids(terms, mode, filters)
    docs = eng.live_docs().select("doc_id", sort_field)
    key = (F.asc_nulls_last(sort_field) if ascending
           else F.desc_nulls_last(sort_field))
    return (
        m.join(docs, "doc_id")
        .orderBy(key, F.asc("doc_id"))
        .limit(k)
    )


def constant_score(
    eng,
    terms: list[str],
    k: int = 10,
    mode: str = "disjunctive",
    filters: list = (),
    boost: float = 1.0,
) -> DataFrame:
    """ES `constant_score` query: every matching doc scores exactly
    `boost` (Lucene ConstantScoreQuery — the filter-context wrapper
    that skips scoring entirely). Ranking degenerates to the doc_id
    tie-break, the ES behavior for equal scores.

    Plan shape: the unscored match set (no tf/dl decode beyond
    matching) -> literal column -> TakeOrdered(k)."""
    m = eng.match_ids(terms, mode, filters)
    return (
        m.select("doc_id", F.lit(float(boost)).alias("score"))
        .orderBy(F.asc("doc_id"))
        .limit(k)
    )


def dis_max(
    eng,
    term_sets: list[list[str]],
    k: int = 10,
    tie_breaker: float = 0.0,
    mode: str = "disjunctive",
) -> DataFrame:
    """ES `dis_max` query over same-field subqueries: a doc matching
    ANY subquery matches; score = best subquery score + `tie_breaker` *
    (sum of the other matching subqueries' scores) — the Lucene
    DisjunctionMaxQuery contract (tie_breaker 0 = pure max, 1 = bool
    sum). The per-FIELD dis_max is :meth:`SearchEngine.multi_match`
    best_fields; this is the per-QUERY form Kibana's query bar emits
    for multi-clause should groups with dis_max rewrite.

    Plan shape: one exact per-shard kernel pass per subquery (full
    scored match sets), union -> ONE doc_id shuffle -> max+sum
    aggregate -> TakeOrdered(k)."""
    if not term_sets or any(not ts for ts in term_sets):
        raise ValueError("dis_max needs non-empty subquery term lists")
    if not (0.0 <= tie_breaker <= 1.0):
        raise ValueError("tie_breaker must be in [0, 1]")
    scored = None
    for ts in term_sets:
        s = eng.match_ids(ts, mode, with_scores=True)
        scored = s if scored is None else scored.unionByName(s)
    agg = scored.groupBy("doc_id").agg(
        F.max("score").alias("best"),
        F.sum("score").alias("total"),
    )
    return (
        agg.select(
            "doc_id",
            (F.col("best")
             + F.lit(float(tie_breaker)) * (F.col("total") - F.col("best"))
             ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def boosting_query(
    eng,
    positive_terms: list[str],
    negative_terms: list[str],
    k: int = 10,
    mode: str = "disjunctive",
    negative_boost: float = 0.5,
) -> DataFrame:
    """ES `boosting` query: docs matching the positive query rank
    normally, but those ALSO matching the negative query have their
    score multiplied by `negative_boost` (demoted, never excluded —
    the difference from must_not). Matching is positive-only; the
    negative side contributes no score of its own.

    Plan shape: full positive scored match set LEFT SEMI-flagged
    against the negative match set via a left join on doc_id (the
    negative set is matched-ids only, never scored), JVM conditional
    multiply, TakeOrdered(k). Demotion runs over the FULL match set —
    a demoted doc falling out of the top-k must let the next one in."""
    if not positive_terms:
        raise ValueError("boosting needs a non-empty positive query")
    if not (0.0 <= negative_boost):
        raise ValueError("negative_boost must be >= 0")
    pos = eng.match_ids(positive_terms, mode, with_scores=True)
    neg = eng.match_ids(negative_terms, "disjunctive") \
        .select("doc_id", F.lit(True).alias("_neg"))
    out = (
        pos.join(neg, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_neg"),
                   F.col("score") * F.lit(float(negative_boost)))
            .otherwise(F.col("score")).alias("score"),
        )
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
