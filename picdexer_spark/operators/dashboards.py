"""The Kibana dashboard query surface (SURVEY.md §2.2, Q1-Q12) as Spark ops.

Each function mirrors one saved-object query the reference installs into
Kibana (reference: internal/setup/assets/kibana.ndjson, record lines cited
per function) — the aggregation semantics ES executes for picdexer,
re-expressed as DataFrame plans over the engine's tables (or any table with
the same shape). The plans are pure built-in ops: groupBy/window/orderBy
stay in whole-stage codegen; top-k is TakeOrdered; the Other bucket is the
classic "total minus top-k" union.

In process: the two query-bar panels, :func:`date_histogram` and
:func:`top_terms_with_other` (no options), aggregate with pyarrow on the
driver, and run no Spark job, when their input is a frame whose rows the
driver already bounds (sources/catalog.py `ArrowFrame`: an Arrow-backed
frame, or the live docs semi-joined with a held match set) and the
session time zone is UTC. They return an Arrow-backed frame with the
plan's schema, rows and order — Elasticsearch, too, aggregates a query's
match set inside the shard process. Every other input runs the plan.

Determinism: every ordered result carries an explicit total tie-break so
row sets are stable across engines (ES uses doc order; we pin key order).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from picdexer_spark.sources.catalog import ArrowFrame, arrow_frame


def epoch_seconds(c: Column) -> Column:
    """Epoch seconds for timestamp or timestamp_ntz columns (ntz can't cast
    straight to bigint in Spark 4; go through ltz with the session TZ=UTC)."""
    return c.cast("timestamp_ltz").cast("long")


def count_all(df: DataFrame) -> DataFrame:
    """Q1 — match-all metric `pictureCount` (kibana.ndjson:2)."""
    return df.agg(F.count("*").alias("n"))


def date_histogram(df: DataFrame, ts_col: str, bucket: str) -> DataFrame:
    """Q2 — date histogram, min_doc_count=1 (kibana.ndjson:3,10,11).

    bucket: '12h' (PT12H), 'week' (P7D), 'year' (P1Y). Empty buckets are
    naturally absent from groupBy output (= min_doc_count:1). Bucket key is
    epoch seconds for '12h' (engine-neutral) and ISO date for week/year.
    """
    got = _local_rows(df, ts_col, _TIMESTAMPS) if bucket in _FLOOR else None
    if got is not None:
        return _local_histogram(df, got.column(ts_col), bucket)
    c = F.col(ts_col)
    if bucket == "12h":
        key = (F.floor(epoch_seconds(c) / F.lit(43200)) * 43200).alias("bucket")
    elif bucket == "week":
        key = F.date_trunc("week", c).cast("date").alias("bucket")
    elif bucket == "year":
        key = F.date_trunc("year", c).cast("date").alias("bucket")
    else:
        raise ValueError(bucket)
    return df.groupBy(key).agg(F.count("*").alias("n")).orderBy("bucket")


def top_terms_with_other(
    df: DataFrame, col: str, k: int = 20, explode: bool = False,
    include: str | None = None, exclude: str | None = None,
    missing: str | None = None,
) -> DataFrame:
    """Q3 — terms agg, top-k by count desc + "Other" bucket
    (kibana.ndjson:4 TopKeywords, :5 TopFolders; otherBucket:true).

    `explode=True` treats `col` as an array field (per-value buckets, the
    Keywords semantics). Other = total value count - sum(top-k counts).
    Tie-break: count desc, key asc (pinned; ES breaks ties by key too).

    Round 5: the ES terms-agg key knobs — `include`/`exclude` regexes
    (whole-value anchored, the Lucene RegExp contract; exclude wins on
    overlap) filter which keys the agg COLLECTS, so the Other bucket
    counts only the included universe; `missing` buckets NULL keys
    under the given value instead of dropping them. All three are
    pre-aggregation row filters/substitutions — they narrow the scan,
    never add a pass."""
    got = None if explode or include or exclude or missing or k < 0 \
        else _local_rows(df, col, StringType)
    if got is not None:
        return _local_top_terms(df, got.column(col), col, k)
    vals = df.select(F.explode(F.col(col)).alias("key")) if explode else df.select(
        F.col(col).alias("key")
    )
    if missing is not None:
        vals = vals.select(
            F.coalesce("key", F.lit(missing)).alias("key"))
    if include is not None:
        vals = vals.filter(F.col("key").rlike(f"^(?:{include})$"))
    if exclude is not None:
        vals = vals.filter(~F.col("key").rlike(f"^(?:{exclude})$"))
    counts = vals.groupBy("key").agg(F.count("*").alias("n"))
    topk = counts.orderBy(F.desc("n"), F.asc("key")).limit(k)
    # total from the counts AGGREGATE (sum n == count of vals), not a second
    # scan of the raw value stream: both branches now share the identical
    # counts exchange, which the physical planner emits once (ReusedExchange)
    total = counts.agg(F.sum("n").alias("t"))
    other = (
        topk.agg(F.sum("n").alias("s"))
        .crossJoin(total)
        .select(
            F.lit("__other__").alias("key"),
            (F.col("t") - F.col("s")).alias("n"),
        )
        .filter(F.col("n") > 0)
    )
    return topk.unionByName(other)


#: date_histogram bucket -> pyarrow floor_temporal (multiple, unit): the
#: same bucket starts as the plan's floor / date_trunc in UTC
_FLOOR = {"12h": (12, "hour"), "week": (1, "week"), "year": (1, "year")}


#: the Spark types of a date_histogram column the driver buckets
_TIMESTAMPS = (TimestampType, TimestampNTZType)


def _local_rows(df: DataFrame, col: str, types) -> pa.Table | None:
    """`col` of every row of `df`, read on the driver, when `df` can
    produce its rows there, `col` is of one of the Spark `types` and the
    session time zone is UTC (the buckets below are UTC's); else None."""
    if not (isinstance(df, ArrowFrame) and col in df.columns
            and isinstance(df.schema[col].dataType, types)
            and df.sparkSession.conf.get(
                "spark.sql.session.timeZone") == "UTC"):
        return None
    return df.local_rows([col])


def _sorted_counts(keys: pa.ChunkedArray, sort_keys: list) -> pa.Table:
    """(key, n) for each distinct value of `keys` (null included, like a
    Spark groupBy), sorted by `sort_keys` with null keys first."""
    agg = pa.table({"key": keys}).group_by("key").aggregate(
        [([], "count_all")])
    counts = pa.table({"key": agg.column("key"),
                       "n": agg.column("count_all")})
    return counts.take(pc.sort_indices(counts, sort_keys=sort_keys,
                                       null_placement="at_start"))


def _local_histogram(df: DataFrame, ts: pa.ChunkedArray,
                     bucket: str) -> DataFrame:
    """date_histogram of the driver-held timestamps `ts` of `df`."""
    if ts.type.tz is not None:
        ts = ts.cast(pa.timestamp(ts.type.unit))
    multiple, unit = _FLOOR[bucket]
    start = pc.floor_temporal(ts, multiple, unit, week_starts_monday=True)
    if bucket == "12h":
        key, key_type = start.cast(pa.timestamp("s")).cast(pa.int64()), \
            LongType()
    else:
        key, key_type = start.cast(pa.date32()), DateType()
    # the plan's bucket is nullable whatever its input: a division and
    # date_trunc both are
    return arrow_frame(df.sparkSession, StructType([
        StructField("bucket", key_type, True),
        StructField("n", LongType(), False),
    ]), _sorted_counts(key, [("key", "ascending")])
        .rename_columns(["bucket", "n"]))


def _local_top_terms(df: DataFrame, vals: pa.ChunkedArray, col: str,
                     k: int) -> DataFrame:
    """top_terms_with_other of the driver-held values `vals` of `df`'s
    `col`: count desc, key asc with null first, then Other when it is
    above 0."""
    top = _sorted_counts(vals, [("n", "descending"),
                                ("key", "ascending")]).slice(0, k)
    keys, ns = top.column("key").to_pylist(), top.column("n").to_pylist()
    other = len(vals) - sum(ns)
    if other > 0:
        keys.append("__other__")
        ns.append(other)
    return arrow_frame(df.sparkSession, StructType([
        StructField("key", StringType(), df.schema[col].nullable),
        StructField("n", LongType(), True),
    ]), pa.table({"key": pa.array(keys, pa.string()),
                  "n": pa.array(ns, pa.int64())}))


def terms_key_ordered(df: DataFrame, col: str, limit: int = 900) -> DataFrame:
    """Q4 — terms agg ordered by key asc, size 900 (kibana.ndjson:12
    BrowseFolders)."""
    return (
        df.groupBy(F.col(col).alias("key"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.asc("key"))
        .limit(limit)
    )


def nested_top_terms(
    df: DataFrame, outer: str, inner: str, k_outer: int = 10, k_inner: int = 5
) -> DataFrame:
    """Q5 — nested terms: top-k_outer outer groups, top-k_inner inner per
    outer, both by count desc (kibana.ndjson:6 CameraLens: top-10
    CameraModel x top-5 LensModel)."""
    pairs = df.groupBy(
        F.col(outer).alias("okey"), F.col(inner).alias("ikey")
    ).agg(F.count("*").alias("n"))
    outer_counts = (
        df.groupBy(F.col(outer).alias("okey"))
        .agg(F.count("*").alias("on"))
        .orderBy(F.desc("on"), F.asc("okey"))
        .limit(k_outer)
    )
    w = Window.partitionBy("okey").orderBy(F.desc("n"), F.asc("ikey"))
    return (
        pairs.join(F.broadcast(outer_counts), "okey")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k_inner)
        .select("okey", "ikey", "n")
    )


def value_grid(df: DataFrame, x_col: str, precision: int = 0) -> DataFrame:
    """Q6 — grid agg: bucket a continuous value, count per cell
    (kibana.ndjson:7 ES_GEO_GRID on GPS; here 1-D binning — the engine's
    pages have no geo column, the binning operator is the same shape)."""
    key = F.round(F.col(x_col), precision).alias("cell")
    return df.groupBy(key).agg(F.count("*").alias("n")).orderBy("cell")


def date_histogram_pipeline(df: DataFrame, ts_col: str,
                            bucket: str) -> DataFrame:
    """Kibana PIPELINE aggregations over a date histogram: derivative,
    cumulative_sum and a centered(=trailing, ES default) moving average,
    computed on the parent histogram's buckets (ES derivative /
    cumulative_sum / moving_fn docs semantics):

    - `delta_n`  = n - lag(n)           (derivative; first bucket NULL)
    - `cum_n`    = running sum of n     (cumulative_sum)
    - `mavg3_n`  = avg over the current + 2 preceding buckets
                   (moving_fn window 3, partial at the series head)

    The bucket series is panel-sized (thousands at most), so the single
    unpartitioned window after the distributed groupBy is the ES
    coordinator reduction, not a data-sized funnel."""
    from pyspark.sql import Window

    h = date_histogram(df, ts_col, bucket)
    w = Window.orderBy("bucket")
    w3 = w.rowsBetween(-2, 0)
    return h.select(
        "bucket", "n",
        (F.col("n") - F.lag("n").over(w)).alias("delta_n"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_n"),
        F.avg("n").over(w3).alias("mavg3_n"),
    ).orderBy("bucket")


def range_buckets(df: DataFrame, col: str,
                  edges: list[float]) -> DataFrame:
    """ES `range` aggregation (the Kibana Range bucket viz): named
    half-open buckets [from, to) over a numeric field plus the two
    unbounded tails, count per bucket — ES keys them "a-b", "*-a",
    "b-*". Empty buckets are kept with n=0 (the ES range agg always
    returns every configured bucket, unlike terms/histogram). One scan,
    one map-side-combinable groupBy; the bucket table is edges+1 rows."""
    if not edges or sorted(edges) != list(edges):
        raise ValueError("edges must be a non-empty ascending list")
    lows = [None] + list(edges)
    highs = list(edges) + [None]
    keys = [
        ("*" if lo is None else f"{lo:g}") + "-" +
        ("*" if hi is None else f"{hi:g}")
        for lo, hi in zip(lows, highs)
    ]
    c = F.col(col)
    expr = None
    for k, lo, hi in zip(keys, lows, highs):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (c >= F.lit(float(lo)))
        if hi is not None:
            cond = cond & (c < F.lit(float(hi)))
        expr = F.when(cond, F.lit(k)) if expr is None \
            else expr.when(cond, F.lit(k))
    counted = (
        df.filter(c.isNotNull())
        .groupBy(expr.alias("key")).agg(F.count("*").alias("n"))
    )
    spark = df.sparkSession
    all_keys = spark.createDataFrame([(k, i) for i, k in enumerate(keys)],
                                     "key string, ord int")
    return (
        all_keys.join(counted, "key", "left")
        .select("key", F.coalesce("n", F.lit(0)).alias("n"), "ord")
        .orderBy("ord")
        .drop("ord")
    )


def sorted_projection(
    df: DataFrame, cols: list[str], ts_col: str, key_col: str, limit: int = 100
) -> DataFrame:
    """Q7 — the "discover" view: column projection sorted by date desc
    (kibana.ndjson:8; sort [["Date","desc"]]). key_col breaks ties."""
    return (
        df.select(*cols)
        .orderBy(F.desc(ts_col), F.asc(key_col))
        .limit(limit)
    )


def scripted_url_field(df: DataFrame, id_col: str, fs_url: str) -> DataFrame:
    """Q10 — scripted field Toto = doc['_id'] rendered as {{FsUrl}}/key/{id}
    (kibana.ndjson:1 fieldFormatMap)."""
    return df.withColumn(
        "key_url", F.concat(F.lit(fs_url), F.lit("/key/"), F.col(id_col))
    )


def time_range(df: DataFrame, ts_col: str, lo: str, hi: str) -> DataFrame:
    """Q11 — dashboard timeFrom/timeTo filter on the time field
    (kibana.ndjson:9,13; timeFieldName kibana.ndjson:1)."""
    return df.filter(F.col(ts_col).between(F.lit(lo), F.lit(hi)))


def sync_on_date(
    df: DataFrame, match_col: str, keyword: str, ts_col: str, sync_date: str
) -> DataFrame:
    """Q12 — the sync-on-date derived-doc generator: for rows matching a
    configured keyword, shift the date by (2000-01-01 - per-keyword epoch)
    so series overlay (reference: internal/elasticsearch/
    elasticsearch.go:193-217, const line 21; mapping syncOnDate.json)."""
    shift = epoch_seconds(F.lit("2000-01-01").cast("timestamp")) - epoch_seconds(
        F.lit(sync_date).cast("timestamp")
    )
    return (
        df.filter(F.col(match_col) == keyword)
        .withColumn(
            "synced_ts",
            (epoch_seconds(F.col(ts_col)) + shift).cast("timestamp"),
        )
        .withColumn("sync_key", F.lit(keyword))
    )


def point_lookup(df: DataFrame, key_col: str, key) -> DataFrame:
    """Q9 — lookup by `_id` (the bulk index-by-id upsert target,
    reference: elasticsearch.go:185-190); parquet/Iceberg point read with
    min/max pruning since docs are written sorted by doc_id."""
    return df.filter(F.col(key_col) == F.lit(key))


def significant_terms(
    docs: DataFrame,
    match: DataFrame,
    text_col: str,
    term_stats: DataFrame,
    n_docs: int,
    n_fg: int,
    k: int = 10,
    min_doc_count: int = 1,
) -> DataFrame:
    """ES significant_terms agg over a query match set (the Kibana
    "significant terms" viz): terms over-represented in the FOREGROUND
    (docs matching the query-bar query) vs the BACKGROUND (whole corpus).

    Pinned scoring = ES JLH heuristic:
        fgPct = fg_df / n_fg,  bgPct = bg_df / n_docs
        score = (fgPct - bgPct) * (fgPct / bgPct)
    positive-lift terms only (fgPct > bgPct — the ES contract), fg_df >=
    `min_doc_count`, top-k by (score desc, term asc).

    Plan shape: the matched docs re-analyze their text (explode ->
    countDistinct per term — one shuffle keyed by term, partial aggs
    map-side), then join the tiny per-term row against the term
    dictionary for bg_df; no driver materialization beyond the k rows.
    bg stats come from the index term_stats, which (like Lucene) counts
    not-yet-compacted tombstoned docs until merge.

    Returns (term, fg_df, bg_df, score).
    """
    from picdexer_spark.functions.tokenize import tokens_col

    fg = (
        docs.join(match, "doc_id", "semi")
        .select("doc_id", F.explode(tokens_col(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count_distinct("doc_id").alias("fg_df"))
        .filter(F.col("fg_df") >= min_doc_count)
    )
    joined = fg.join(
        term_stats.select("term", F.col("df").alias("bg_df")), "term"
    )
    fgp = F.col("fg_df") / F.lit(float(n_fg))
    bgp = F.col("bg_df") / F.lit(float(n_docs))
    return (
        joined.withColumn("score", (fgp - bgp) * (fgp / bgp))
        .filter(fgp > bgp)
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(k)
    )


def percentiles(df: DataFrame, col: str,
                pcts: tuple = (0.5, 0.9, 0.99)) -> DataFrame:
    """ES percentiles agg (the Kibana metric-viz percentile ranks) with
    EXACT linear-interpolation semantics (Spark `percentile`; at 100 TB
    swap to `percentile_approx` — same plan shape, documented recall
    trade, the ES t-digest analogue). Returns one row per requested
    percentile: (pct, value)."""
    arr = F.expr(
        f"percentile({col}, array({', '.join(repr(float(p)) for p in pcts)}))"
    )
    pcts_lit = F.array(*[F.lit(float(p)) for p in pcts])
    return (
        df.agg(arr.alias("vals"))  # ONE scan for all percentiles
        .select(F.posexplode("vals").alias("i", "value"))
        .select(F.element_at(pcts_lit, F.col("i") + 1).alias("pct"), "value")
    )


def stats_agg(df: DataFrame, col: str) -> DataFrame:
    """ES `stats` aggregation (the Kibana metric-viz min/max/avg/sum family
    in one request): count, min, max, avg, sum over a numeric field in ONE
    scan — a single map-side-combinable aggregate, the same partial-agg
    plan ES's stats agg runs per shard before the coordinator reduce.
    NULLs are skipped by min/max/avg/sum (the ES missing-value default);
    `count` is the non-null value count, matching ES stats.count."""
    c = F.col(col)
    return df.agg(
        F.count(c).alias("count"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.avg(c).alias("avg"),
        F.sum(c).alias("sum"),
    )


def cardinality(df: DataFrame, col: str, exact: bool = True) -> DataFrame:
    """ES cardinality agg. exact=True -> COUNT(DISTINCT) (the oracle-
    comparable small-scale form); exact=False -> HLL++
    (approx_count_distinct), the 100 TB path ES itself takes (its
    cardinality agg IS HyperLogLog) — same output shape either way."""
    agg = (F.count_distinct(F.col(col)) if exact
           else F.approx_count_distinct(F.col(col)))
    return df.agg(agg.alias("n_distinct"))


def top_terms_error_bounds(
    df: DataFrame, col: str, shard_col: str,
    k: int = 10, shard_size: int = 25,
) -> DataFrame:
    """ES terms agg with `show_term_doc_count_error` — the DISTRIBUTED
    accuracy contract of a sharded top-k (ES terms-agg docs; the part of
    kibana.ndjson:4's TopKeywords panel that only materializes on a
    multi-shard index):

    - each shard returns only its LOCAL top `shard_size` keys by count
      (count desc, key asc — the pinned tie-break);
    - the coordinator sums the returned per-shard counts per key and
      keeps the global top `k` (sum desc, key asc);
    - `doc_count_error` per returned key = sum, over every TRUNCATED
      shard that did not return the key, of that shard's smallest
      returned count — the worst case the key could have missed. A
      shard that returned ALL its keys contributes 0 (nothing hidden).
      ES's agg-level doc_count_error_upper_bound is the same sum over
      all truncated shards (= the error of a key no shard returned).

    Scale shape: the only data-sized stage is the (shard, key) partial
    count; after the per-shard row_number top-list, at most
    n_shards x shard_size rows reach the coordinator reduction — the
    exact shard-size/accuracy trade ES exposes, expressed as
    groupBy -> window top-k -> broadcast-joined error ledger."""
    pairs = (
        df.groupBy(F.col(shard_col).alias("shard"), F.col(col).alias("key"))
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("shard").orderBy(F.desc("n"), F.asc("key"))
    ranked = pairs.withColumn("rk", F.row_number().over(w))
    returned = ranked.filter(F.col("rk") <= shard_size)
    # per-shard error ledger: smallest returned count if the shard was
    # truncated, else 0 — n_shards rows, broadcast back onto the top lists
    shard_err = (
        ranked.groupBy("shard")
        .agg(
            F.max("rk").alias("n_keys"),
            F.min(F.when(F.col("rk") <= shard_size, F.col("n")))
            .alias("last_n"),
        )
        .select(
            "shard",
            F.when(F.col("n_keys") > shard_size, F.col("last_n"))
            .otherwise(F.lit(0)).alias("err_n"),
        )
    )
    total_err = shard_err.agg(F.sum("err_n").alias("tot"))
    combined = (
        returned.join(F.broadcast(shard_err), "shard")
        .groupBy("key")
        .agg(F.sum("n").alias("n"), F.sum("err_n").alias("present_err"))
    )
    return (
        combined.crossJoin(F.broadcast(total_err))
        .select(
            "key", "n",
            (F.col("tot") - F.col("present_err")).alias("doc_count_error"),
        )
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(k)
    )


def composite_agg(
    df: DataFrame, sources: list[tuple[str, Column]],
    size: int = 10, after: tuple | None = None,
) -> DataFrame:
    """ES `composite` aggregation — THE scalable bucket agg (the one ES
    documents for paging through ALL buckets of a high-cardinality agg,
    e.g. exporting every (lang, length-bucket) pair of a 10^12-doc
    index): buckets are ordered by the composite key tuple ascending and
    paged with a strictly-greater `after` cursor, so every page costs
    one aggregate + TakeOrdered(size) — never a global sort of all
    buckets, never OFFSET.

    `sources`: [(name, key Column)] in key order (the ES sources array,
    terms-source semantics). `after`: the previous page's last key tuple
    (None = first page). Buckets whose key contains NULL are skipped
    (the ES missing_bucket:false default).

    Pinned: key order is Spark's default ascending collation per source
    (ES orders asc by default too); `doc_count` is the bucket size."""
    names = [n for n, _c in sources]
    keyed = df.select(*[c.alias(n) for n, c in sources])
    for n in names:
        keyed = keyed.filter(F.col(n).isNotNull())
    counts = keyed.groupBy(*names).agg(F.count("*").alias("doc_count"))
    if after is not None:
        if len(after) != len(names):
            raise ValueError(
                f"after cursor must carry {len(names)} key values")
        # lexicographic strictly-greater: (k1 > a1) OR (k1 = a1 AND
        # k2 > a2) OR ... — evaluated on the grouped keys, so the page
        # scan stays one partial-agg + pruned TakeOrdered
        cond = None
        eq = None
        for n, v in zip(names, after):
            gt = F.col(n) > F.lit(v)
            branch = gt if eq is None else eq & gt
            cond = branch if cond is None else cond | branch
            e = F.col(n) == F.lit(v)
            eq = e if eq is None else eq & e
        counts = counts.filter(cond)
    return counts.orderBy(*[F.asc(n) for n in names]).limit(size)


def histogram_agg(
    df: DataFrame, col: str, interval: float,
    min_doc_count: int = 0,
) -> DataFrame:
    """ES `histogram` aggregation (the numeric sibling of Q2's date
    histogram; the Kibana vertical-bar viz over a number field): bucket
    key = floor(value / interval) * interval, ordered key asc.

    min_doc_count=0 is the ES DEFAULT and the part groupBy can't express
    alone: every empty bucket BETWEEN the min and max observed keys is
    materialized with doc_count 0 (ES histogram docs — the gap-filling
    contract that makes bar charts contiguous). Implementation: one
    partial-agg scan for the observed buckets, then a driver-free
    `sequence()` explode over the [min_key, max_key] range left-joined
    against the counts. The sequence is bucket-range-sized (panel-sized,
    never data-sized); the only data-sized stage is the partial agg.
    min_doc_count>=1 skips the fill (pure groupBy + filter).

    NULLs are skipped (ES missing-value default). `interval` must be > 0;
    keys are doubles (ES emits doubles for numeric histograms)."""
    if interval <= 0:
        raise ValueError("histogram interval must be > 0")
    c = F.col(col)
    key = (F.floor(c / F.lit(float(interval))) * F.lit(float(interval)))
    counts = (
        df.filter(c.isNotNull())
        .groupBy(key.cast("double").alias("key"))
        .agg(F.count("*").alias("doc_count"))
    )
    if min_doc_count >= 1:
        return counts.filter(F.col("doc_count") >= min_doc_count) \
            .orderBy("key")
    # gap fill: integer bucket ordinals avoid double-accumulation drift
    bounds = counts.agg(
        F.min(F.round(F.col("key") / interval).cast("long")).alias("lo"),
        F.max(F.round(F.col("key") / interval).cast("long")).alias("hi"),
    )
    grid = bounds.filter(F.col("lo").isNotNull()).select(
        F.explode(F.sequence("lo", "hi")).alias("ord")
    ).select((F.col("ord") * F.lit(float(interval))).alias("key"))
    return (
        grid.join(counts, "key", "left")
        .select("key",
                F.coalesce("doc_count", F.lit(0)).alias("doc_count"))
        .orderBy("key")
    )


def extended_stats(df: DataFrame, col: str, sigma: float = 2.0) -> DataFrame:
    """ES `extended_stats` aggregation — stats_agg plus the second-moment
    family, all in the SAME one map-side-combinable scan: sum_of_squares,
    variance (POPULATION variance, the ES contract — not sample),
    std_deviation, and the std_deviation_bounds upper/lower at `sigma`
    standard deviations (ES default sigma=2). NULLs skipped."""
    c = F.col(col).cast("double")
    base = df.agg(
        F.count(c).alias("count"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.avg(c).alias("avg"),
        F.sum(c).alias("sum"),
        F.sum(c * c).alias("sum_of_squares"),
        F.var_pop(c).alias("variance"),
        F.stddev_pop(c).alias("std_deviation"),
    )
    return base.select(
        "*",
        (F.col("avg") + sigma * F.col("std_deviation"))
        .alias("std_upper"),
        (F.col("avg") - sigma * F.col("std_deviation"))
        .alias("std_lower"),
    )


def multi_terms(df: DataFrame, cols: list[str], k: int = 10) -> DataFrame:
    """ES `multi_terms` aggregation: terms buckets keyed by a TUPLE of
    fields (the agg ES added because nesting terms-in-terms reorders by
    the outer count only), top-k by doc_count desc with the full key
    tuple asc as tie-break. Docs with a NULL in any key field are
    skipped (ES multi_terms missing default). One partial agg +
    TakeOrdered(k) — never a global sort."""
    keyed = df.select(*[F.col(c) for c in cols])
    for c in cols:
        keyed = keyed.filter(F.col(c).isNotNull())
    return (
        keyed.groupBy(*cols).agg(F.count("*").alias("doc_count"))
        .orderBy(F.desc("doc_count"), *[F.asc(c) for c in cols])
        .limit(k)
    )


def top_hits(
    df: DataFrame, group_col: str, sort_cols: list[Column],
    k: int = 3, select: list[str] | None = None,
) -> DataFrame:
    """ES `top_hits` aggregation inside a terms bucket (the Kibana "latest
    N docs per group" table): for every `group_col` bucket, the top `k`
    rows by `sort_cols` (caller supplies fully-pinned ordering, e.g.
    [F.desc("warc_ts"), F.asc("doc_id")]).

    Plan shape: row_number over a partitionBy window + rank filter —
    Spark's WindowGroupLimit rule pushes the k-limit INTO the window
    sort below the exchange (verified in tests/test_plans.py for the
    same shape on ANN top-k), so each partition ships only k rows per
    group; no global sort, no driver hop."""
    w = Window.partitionBy(group_col).orderBy(*sort_cols)
    out_cols = select or [c for c in df.columns]
    return (
        df.filter(F.col(group_col).isNotNull())
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(group_col, F.col("rk"), *[c for c in out_cols
                                          if c != group_col])
    )


def rare_terms(df: DataFrame, col: str, max_doc_count: int = 1,
               limit: int = 100) -> DataFrame:
    """ES `rare_terms` aggregation — the LONG-TAIL complement of terms
    (buckets whose doc_count <= max_doc_count, ordered count asc then
    key asc). ES implements it with a CuckooFilter sweep because its
    coordinator cannot hold all keys; the Spark partial agg + filter IS
    the exact distributed formulation of the same plan (the filter runs
    post-agg, map-side combined, nothing key-cardinality-sized reaches
    the driver). NULL keys are skipped. `limit` caps the returned
    buckets (ES max_buckets guard), deterministic under the pinned
    (count asc, key asc) order."""
    if max_doc_count < 1:
        raise ValueError("max_doc_count must be >= 1")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("key"))
        .agg(F.count("*").alias("doc_count"))
        .filter(F.col("doc_count") <= max_doc_count)
        .orderBy(F.asc("doc_count"), F.asc("key"))
        .limit(limit)
    )


def missing_agg(df: DataFrame, col: str) -> DataFrame:
    """ES `missing` aggregation: the count of docs with no value for the
    field (one map-side-combinable scan)."""
    return df.agg(
        F.count(F.when(F.col(col).isNull(), F.lit(1))).alias("doc_count")
    )


def terms_by_metric(
    df: DataFrame, key_col: str, metric_col: str,
    metric: str = "avg", k: int = 10, ascending: bool = False,
) -> DataFrame:
    """ES terms agg ORDERED BY A SUB-AGGREGATION (`"order": {"m": "desc"}`
    with `m` an avg/min/max/sum metric agg) — the Kibana "order by
    metric" terms viz. One partial agg computes doc_count AND the metric
    per key; TakeOrdered(k) on (metric, key asc). ES documents this
    ordering as potentially inaccurate on sharded terms; the Spark
    formulation aggregates exactly before ranking, so it returns the
    TRUE top-k — the accuracy ES wishes it had, at the cost ES avoids
    (a full key-space partial agg, map-side combined — still nothing
    driver-sized)."""
    fns = {"avg": F.avg, "min": F.min, "max": F.max, "sum": F.sum}
    if metric not in fns:
        raise ValueError(f"unsupported order metric {metric!r}")
    m = fns[metric](F.col(metric_col)).alias("metric")
    order = F.asc("metric") if ascending else F.desc("metric")
    return (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).alias("key"))
        .agg(F.count("*").alias("doc_count"), m)
        .orderBy(order, F.asc("key"))
        .limit(k)
    )


def percentile_ranks(df: DataFrame, col: str,
                     values: tuple = (100.0, 500.0)) -> DataFrame:
    """ES `percentile_ranks` agg: for each given value, the percentage of
    observed values <= it. ES computes this on a t-digest (approximate);
    here the exact CDF — `100 * count(v <= x) / count(v)` — in ONE scan
    for all requested values (a conditional-count column per value,
    map-side combined). Pinned divergence: no t-digest interpolation
    BETWEEN observations; at 100 TB the same plan runs on a sampled or
    sketched column. NULLs are excluded from both numerator and
    denominator (ES missing default). Returns (value, rank)."""
    c = F.col(col)
    aggs = [F.count(c).alias("_n")] + [
        F.count(F.when(c <= F.lit(float(v)), F.lit(1))).alias(f"_le{i}")
        for i, v in enumerate(values)
    ]
    base = df.agg(*aggs)
    pairs = F.array(*[
        F.struct(
            F.lit(float(v)).alias("value"),
            (F.lit(100.0) * F.col(f"_le{i}") / F.col("_n")).alias("rank"),
        )
        for i, v in enumerate(values)
    ])
    return (
        base.select(F.explode(pairs).alias("p"))
        .select("p.value", "p.rank")
    )


#: auto_date_histogram rounding ladder, FIXED-second intervals (the ES
#: ladder's second/minute/hour/day steps verbatim; its calendar month /
#: year steps are pinned to 30-day / 365-day fixed widths — calendar
#: rounding needs a timezone calendar the oracle comparison can't share;
#: divergence documented, not guessed)
AUTO_HIST_LADDER = (
    1, 5, 10, 30,                       # seconds
    60, 300, 600, 1800,                 # minutes
    3600, 3 * 3600, 12 * 3600,          # hours
    86400, 7 * 86400,                   # days
    30 * 86400, 90 * 86400,             # "months" (fixed, pinned)
    365 * 86400, 5 * 365 * 86400,       # "years" (fixed, pinned)
    10 * 365 * 86400,
)


def auto_date_histogram(df: DataFrame, ts_col: str,
                        buckets: int = 10) -> DataFrame:
    """ES `auto_date_histogram`: the agg picks its own interval — the
    SMALLEST ladder step whose bucket count over [min(ts), max(ts)] is
    <= `buckets` (the Kibana "auto" time axis). Two scans total: one
    min/max epoch aggregate, then the histogram groupBy with the chosen
    interval broadcast-joined in as a scalar (no driver round-trip, no
    collect). Buckets with no docs are absent (min_doc_count=1, the ES
    auto_date_histogram behavior — unlike `histogram_agg` it never
    zero-fills). Returns (interval_sec, bucket, n) with bucket = epoch
    seconds floored to the interval."""
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    ep = epoch_seconds(F.col(ts_col))
    bounds = df.filter(F.col(ts_col).isNotNull()).agg(
        F.min(ep).alias("lo"), F.max(ep).alias("hi")
    )
    ladder = F.array(*[F.lit(int(i)) for i in AUTO_HIST_LADDER])
    chosen = bounds.select(
        F.coalesce(
            F.filter(
                ladder,
                lambda i: (F.floor(F.col("hi") / i)
                           - F.floor(F.col("lo") / i)
                           + 1) <= F.lit(buckets),
            )[0],
            # span wider than buckets x the coarsest step: take the
            # coarsest (ES caps the same way at its ladder top)
            F.lit(int(AUTO_HIST_LADDER[-1])),
        ).alias("interval_sec")
    )
    return (
        df.filter(F.col(ts_col).isNotNull())
        .crossJoin(F.broadcast(chosen))
        .groupBy(
            "interval_sec",
            (F.floor(ep / F.col("interval_sec"))
             * F.col("interval_sec")).alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


def bucket_sort(df: DataFrame, sort_cols: list[Column],
                from_: int = 0, size: int | None = None) -> DataFrame:
    """ES `bucket_sort` pipeline agg: re-order the PARENT agg's buckets
    by any of their columns and truncate with from/size (the Kibana
    "sort buckets by metric, show a page" table). The bucket series is
    panel-sized, so the single global row_number window is the ES
    coordinator reduction, not a data funnel."""
    if from_ < 0 or (size is not None and size < 0):
        raise ValueError("from_/size must be non-negative")
    w = Window.orderBy(*sort_cols)
    out = df.withColumn("_rk", F.row_number().over(w)) \
        .filter(F.col("_rk") > from_)
    if size is not None:
        out = out.filter(F.col("_rk") <= from_ + size)
    return out.drop("_rk")


def max_bucket(df: DataFrame, key_col: str, val_col: str,
               minimum: bool = False) -> DataFrame:
    """ES `max_bucket` / `min_bucket` sibling pipeline agg: the extreme
    bucket VALUE plus the KEYS of every bucket attaining it (ES returns
    a keys LIST on ties). One aggregate over the panel-sized bucket
    series; keys sorted for determinism. (`avg_bucket` / `sum_bucket` /
    `stats_bucket` are :func:`stats_agg` applied to the bucket series —
    no separate operator needed.)"""
    agg = F.min(F.col(val_col)) if minimum else F.max(F.col(val_col))
    ext = df.agg(agg.alias("value"))
    return (
        df.join(F.broadcast(ext), F.col(val_col) == F.col("value"))
        .groupBy("value")
        .agg(F.sort_array(F.collect_list(F.col(key_col))).alias("keys"))
    )


def serial_diff(df: DataFrame, val_col: str, lag: int = 1,
                order_col: str = "bucket") -> DataFrame:
    """ES `serial_diff` pipeline agg: value minus the value `lag`
    buckets earlier in the ordered parent series (lag=1 is the
    derivative; lag=period removes seasonality — the ES docs' use).
    The first `lag` buckets are NULL (ES emits no value there). Runs on
    the panel-sized bucket series, one coordinator window."""
    if lag < 1:
        raise ValueError("lag must be >= 1")
    w = Window.orderBy(order_col)
    return df.withColumn(
        f"sdiff{lag}_{val_col}",
        F.col(val_col) - F.lag(val_col, lag).over(w),
    )


def bucket_script(df: DataFrame, exprs: dict[str, Column]) -> DataFrame:
    """ES `bucket_script` pipeline agg: a per-bucket arithmetic script
    over the bucket's own metric columns (the Kibana "math on two
    metrics" panel, e.g. ratio = clicks / views). Pure projection —
    stays inside the parent agg's whole-stage codegen, no shuffle, no
    window. A NULL input yields NULL (the ES skip gap policy)."""
    out = df
    for name, c in exprs.items():
        out = out.withColumn(name, c)
    return out


def bucket_selector(df: DataFrame, cond: Column) -> DataFrame:
    """ES `bucket_selector` pipeline agg: keep only buckets where the
    boolean script holds ("show terms with count > N"). NULL evaluates
    to dropped — the same outcome as the ES skip gap policy, where a
    bucket with a missing script input never returns true."""
    return df.filter(cond)


def weighted_avg(df: DataFrame, value_col: str,
                 weight_col: str) -> DataFrame:
    """ES `weighted_avg` metric agg: sum(value*weight) / sum(weight) in
    ONE map-side-combinable scan. Rows where either side is NULL are
    skipped entirely (the ES default when no `missing` is configured:
    a doc lacking value or weight is ignored)."""
    v, w = F.col(value_col), F.col(weight_col)
    ok = v.isNotNull() & w.isNotNull()
    return df.filter(ok).agg(
        (F.sum(v * w) / F.sum(w)).alias("weighted_avg")
    )


def random_sampler(df: DataFrame, probability: float, seed: int = 0,
                   id_col: str = "doc_id") -> tuple[DataFrame, float]:
    """ES `random_sampler` agg (8.2+): run sub-aggregations over a random
    ~``probability`` fraction of the documents and scale monotonic results
    back by 1/probability — the cost lever Kibana pulls on huge date
    ranges (aggregate 1% of 10^12 docs, report approximately-full-data
    numbers at 1% of the cost).

    Returns ``(sampled_df, scale)``: callers run any sub-agg on the sample
    and multiply doc_count/sum-like outputs by ``scale`` (exactly ES's
    contract — avg/min/max style metrics are NOT scaled; the caller knows
    which of its outputs are monotonic).

    Membership is a DETERMINISTIC per-doc hash (md5 of seed|id, first 60
    bits, modulo 10^6 against probability*10^6) rather than Spark's
    ``df.sample``: (a) re-runs and retried tasks see the identical sample
    (ES's seeded contract; Spark's sample is partition-order-dependent
    under retries), (b) any engine can replicate it bit-for-bit (the gate
    oracle does, in DuckDB). Scale shape: the predicate is a narrow
    map-side filter on the scan — every downstream shuffle/agg moves only
    the sampled fraction, which is the entire point of the agg at 100 TB.
    """
    if not (0.0 < probability <= 1.0):
        raise ValueError(f"probability must be in (0, 1], got {probability}")
    bucket = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(str(seed)),
                                      F.col(id_col).cast("string"))), 1, 15),
        16, 10,
    ).cast("long") % 1_000_000
    # round, not truncate: int(0.3 * 1e6) is 299999 in binary floating
    # point — one bucket in a million silently excluded vs the documented
    # p * 10^6 contract (and vs any oracle written with the exact literal)
    thresh = int(round(probability * 1_000_000))
    return df.filter(bucket < thresh), 1.0 / probability


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: dict, seed: int = 0,
                      id_col: str = "doc_id",
                      default_fraction: float = 0.0) -> DataFrame:
    """Per-stratum deterministic sampling — Spark's ``df.sampleBy`` made
    retry-stable and engine-portable (the training-data rebalancing move:
    keep 100% of rare languages, 5% of English): rows keep iff their
    :func:`random_sampler` md5 bucket falls under their stratum's
    fraction. Strata absent from ``fractions`` use ``default_fraction``
    (0.0 = dropped, the sampleBy contract); NULL strata follow the
    default too.

    Same scale/determinism rationale as random_sampler (seeded hash, not
    rand(): retried tasks and re-runs see the identical sample, any
    engine can replicate it bit-for-bit). The fractions map is
    strata-count-sized and folds into ONE CASE expression — a map-side
    scan filter, no shuffle, no join.
    """
    for s, p in fractions.items():
        if not (0.0 <= p <= 1.0):
            raise ValueError(f"fraction for {s!r} must be in [0, 1], "
                             f"got {p}")
    if not (0.0 <= default_fraction <= 1.0):
        raise ValueError(f"default_fraction must be in [0, 1], "
                         f"got {default_fraction}")
    bucket = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(str(seed)),
                                      F.col(id_col).cast("string"))), 1, 15),
        16, 10,
    ).cast("long") % 1_000_000
    thresh = F.lit(int(round(default_fraction * 1_000_000)))
    for s, p in sorted(fractions.items()):
        thresh = F.when(F.col(strata_col) == F.lit(s),
                        F.lit(int(round(p * 1_000_000)))).otherwise(thresh)
    return df.filter(bucket < thresh)


def median_absolute_deviation(df: DataFrame, col: str) -> DataFrame:
    """ES `median_absolute_deviation` metric agg:
    median(|x - median(x)|), the outlier-robust spread measure. ES
    computes both medians on t-digest sketches; this is the EXACT
    linear-interpolated form (the same exact-vs-approx stance as
    :func:`percentiles` — at 100 TB swap both `percentile` calls for
    `percentile_approx`, same plan shape). Two scans by necessity (the
    inner median is a data-dependent scalar); the 1-row median
    broadcast-joins into the second scan — nothing reaches the driver."""
    med = df.agg(F.expr(f"percentile({col}, 0.5)").alias("med"))
    return (
        df.select(F.col(col)).filter(F.col(col).isNotNull())
        .crossJoin(F.broadcast(med))
        .agg(F.expr(f"percentile(abs({col} - med), 0.5)").alias("mad"))
    )


def date_range_buckets(df: DataFrame, ts_col: str,
                       edges: list[str]) -> DataFrame:
    """ES `date_range` aggregation: named half-open [from, to) buckets
    over a date field plus the two unbounded tails, keyed by the edge
    strings ("*-2024-01-10", "2024-01-10-2024-01-20", ...) — the
    :func:`range_buckets` contract on timestamps. Every configured
    bucket is returned, empty ones with n=0. One scan, one
    map-side-combinable groupBy."""
    if not edges or sorted(edges) != list(edges):
        raise ValueError("edges must be a non-empty ascending list")
    lows = [None] + list(edges)
    highs = list(edges) + [None]
    keys = [
        ("*" if lo is None else lo) + "-" + ("*" if hi is None else hi)
        for lo, hi in zip(lows, highs)
    ]
    c = F.col(ts_col)
    expr = None
    for k, lo, hi in zip(keys, lows, highs):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (c >= F.lit(lo).cast("timestamp"))
        if hi is not None:
            cond = cond & (c < F.lit(hi).cast("timestamp"))
        expr = F.when(cond, F.lit(k)) if expr is None \
            else expr.when(cond, F.lit(k))
    counted = (
        df.filter(c.isNotNull())
        .groupBy(expr.alias("key")).agg(F.count("*").alias("n"))
    )
    spark = df.sparkSession
    all_keys = spark.createDataFrame([(k, i) for i, k in enumerate(keys)],
                                     "key string, ord int")
    return (
        all_keys.join(counted, "key", "left")
        .select("key", F.coalesce("n", F.lit(0)).alias("n"), "ord")
        .orderBy("ord")
        .drop("ord")
    )


def adjacency_matrix(df: DataFrame,
                     filters: dict[str, Column]) -> DataFrame:
    """ES `adjacency_matrix` aggregation: doc counts for each named
    filter and each pairwise intersection, keyed "a" and "a&b" (pair
    keys in sorted-name order, the ES convention; ES caps filters at
    100 for the same quadratic-keys reason this should stay small).
    ONE scan: each row builds its matched-name array with JVM
    conditionals, pairs expand via array transforms (no UDF, no
    self-join), then one map-side-combinable groupBy. Intersections
    with no docs are absent — the ES contract (empty buckets are not
    returned)."""
    if not filters:
        raise ValueError("adjacency_matrix needs at least one filter")
    names = sorted(filters)
    matched = F.array_compact(F.array(
        *[F.when(filters[n], F.lit(n)) for n in names]
    ))
    # per row: [a, a&b, a&c, b, b&c, c] for matched [a, b, c]
    keys = F.flatten(F.transform(
        matched,
        lambda x, i: F.concat(
            F.array(x),
            F.transform(
                F.slice(matched, i + F.lit(2),
                        F.greatest(F.size(matched) - i - 1, F.lit(0))),
                lambda y: F.concat_ws("&", x, y),
            ),
        ),
    ))
    return (
        df.select(F.explode(keys).alias("key"))
        .groupBy("key").agg(F.count("*").alias("doc_count"))
        .orderBy("key")
    )


def normalize_buckets(df: DataFrame, val_col: str,
                      method: str = "percent_of_sum",
                      order_col: str = "bucket") -> DataFrame:
    """ES `normalize` pipeline agg: rescale a bucket metric across the
    whole parent series. Methods are the ES six: `rescale_0_1`,
    `rescale_0_100`, `percent_of_sum`, `mean` ((x-avg)/(max-min)),
    `z-score` (population stdev, matching ES), `softmax`. NULL inputs
    stay NULL (the ES skip policy); a constant series yields NULL for
    the range-based methods (0/0) rather than a fabricated 0.

    One unbounded window over the panel-sized bucket series — the ES
    coordinator reduction, never data-sized."""
    v = F.col(val_col).cast("double")
    w = (Window.orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding,
                      Window.unboundedFollowing))
    rng = F.max(v).over(w) - F.min(v).over(w)
    if method == "rescale_0_1":
        expr = F.try_divide(v - F.min(v).over(w), rng)
    elif method == "rescale_0_100":
        expr = F.try_divide(v - F.min(v).over(w), rng) * 100.0
    elif method == "percent_of_sum":
        expr = F.try_divide(v, F.sum(v).over(w))
    elif method == "mean":
        expr = F.try_divide(v - F.avg(v).over(w), rng)
    elif method == "z-score":
        expr = F.try_divide(v - F.avg(v).over(w),
                            F.stddev_pop(v).over(w))
    elif method == "softmax":
        expr = F.try_divide(F.exp(v), F.sum(F.exp(v)).over(w))
    else:
        raise ValueError(f"unknown normalize method {method!r}")
    safe = method.replace("-", "_")
    return df.withColumn(f"{safe}_{val_col}", expr)


def cumulative_cardinality(df: DataFrame, ts_col: str, val_col: str,
                           bucket: str = "12h") -> DataFrame:
    """ES `cumulative_cardinality` pipeline agg: per date-histogram
    bucket, the count of DISTINCT `val_col` values seen in this bucket
    or any earlier one (the ES docs' "total new users to date" panel).

    ES computes it by merging per-bucket HLL sketches left-to-right;
    the exact distributed decomposition here is first-seen counting:
    distinct-reduce each value to its FIRST bucket (one map-side-
    combinable min), histogram those firsts, running-sum over the
    parent series. Two shuffles keyed by value/bucket — both shrink to
    cardinality size — then one coordinator window over panel-sized
    buckets. Also emits `new_n` (first appearances per bucket), ES's
    companion derivative view. Buckets with docs but no NEW values
    still appear (joined against the parent histogram), cum carries
    forward — the pipeline-agg contract that every parent bucket gets
    a value."""
    h = date_histogram(df, ts_col, bucket)
    firsts = (
        df.groupBy(F.col(val_col).alias("_v"))
        .agg(F.min(_bucket_key(ts_col, bucket)).alias("bucket"))
        .groupBy("bucket").agg(F.count("*").alias("new_n"))
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0)
    return (
        h.join(firsts, "bucket", "left")
        .withColumn("new_n", F.coalesce("new_n", F.lit(0)))
        .withColumn(f"cumcard_{val_col}", F.sum("new_n").over(w))
        .orderBy("bucket")
    )


def boxplot_agg(df: DataFrame, col: str,
                whisker: float = 1.5) -> DataFrame:
    """ES `boxplot` aggregation: min, max, q1, q2, q3 plus the lower /
    upper whisker values — the SMALLEST and LARGEST observations within
    `whisker` (ES's fixed 1.5) IQRs of the quartile box, the values ES
    draws the whisker ends at (observations beyond them are the
    outlier dots).

    ES runs one t-digest pass per shard; here the exact form is
    two-phase: one scan for the quartile box (exact interpolated
    `percentile`, the same one-action shape as :func:`percentiles`),
    then the 1-row box broadcast back over a second conditional scan
    for the whiskers — at 100 TB both scans stay map-side-combinable
    and the only exchanged row is the box itself. Returns one row
    (min, max, q1, q2, q3, lower, upper); NULLs skipped throughout."""
    c = F.col(col).cast("double")
    box = df.agg(
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.expr(f"percentile({col}, array(0.25d, 0.5d, 0.75d))")
        .alias("_q"),
    ).select(
        "min", "max",
        F.col("_q")[0].alias("q1"),
        F.col("_q")[1].alias("q2"),
        F.col("_q")[2].alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        df.select(c.alias("_v"))
        .crossJoin(F.broadcast(box))
        .agg(
            F.first("min").alias("min"), F.first("max").alias("max"),
            F.first("q1").alias("q1"), F.first("q2").alias("q2"),
            F.first("q3").alias("q3"),
            F.min(F.when(
                F.col("_v") >= F.col("q1") - whisker * iqr, F.col("_v")
            )).alias("lower"),
            F.max(F.when(
                F.col("_v") <= F.col("q3") + whisker * iqr, F.col("_v")
            )).alias("upper"),
        )
    )


def string_stats(df: DataFrame, col: str) -> DataFrame:
    """ES `string_stats` aggregation over a keyword field: count (non-
    null values), min_length / max_length / avg_length (in characters),
    and `entropy` — the Shannon entropy (log2) of the CHARACTER
    distribution across all collected values, ES's cheap
    machine-generated-content tell (uniform gibberish scores high,
    natural language ~4 bits).

    All-JVM: the length stats are one map-side-combinable scan; the
    entropy path explodes to characters, reduces to the per-char
    frequency table (distinct-char-sized, never data-sized), and folds
    -sum(p*log2(p)) on that table — the same two-level reduce ES's
    per-shard char-count maps perform. One action (the two branches
    union), one row out."""
    c = F.col(col)
    lens = df.agg(
        F.count(c).alias("count"),
        F.min(F.length(c)).alias("min_length"),
        F.max(F.length(c)).alias("max_length"),
        F.avg(F.length(c)).alias("avg_length"),
    )
    # -sum(p*log2 p) refactored to log2(N) - sum(n*log2 n)/N so the
    # final fold is ONE aggregate over the char-frequency table (no
    # window over it); bit-identical algebra both engines share
    chars = (
        df.select(F.explode(F.split(c, "")).alias("ch"))
        .groupBy("ch").agg(F.count("*").alias("n"))
        .agg(
            (F.log2(F.sum("n"))
             - F.sum(F.col("n") * F.log2("n")) / F.sum("n"))
            .alias("entropy")
        )
    )
    return lens.crossJoin(F.broadcast(chars))


def _bucket_key(ts_col: str, bucket: str) -> Column:
    """The date_histogram bucket key expression (shared so derived
    pipelines bucket identically to the parent histogram)."""
    c = F.col(ts_col)
    if bucket == "12h":
        return F.floor(epoch_seconds(c) / F.lit(43200)) * 43200
    if bucket == "week":
        return F.date_trunc("week", c).cast("date")
    if bucket == "year":
        return F.date_trunc("year", c).cast("date")
    raise ValueError(bucket)


def moving_fn(df: DataFrame, order_col: str, val_col: str,
              window: int, fns: tuple = ("max", "min", "sum",
                                         "unweightedAvg", "stdDev",
                                         "linearWeightedAvg"),
              shift: int = 0) -> DataFrame:
    """ES `moving_fn` pipeline aggregation with the stock
    `MovingFunctions` library (reference delegates all Kibana panel
    math to ES; moving_fn is the generalised moving-average panel).

    ES window semantics, faithfully: with `shift=0` the window is the
    `window` buckets strictly BEFORE the current one — frame
    [i-window+shift, i+shift-1] — so the first bucket sees an empty
    frame and yields NULL (ES returns null/NaN there; we normalise to
    NULL). `shift=1` slides the window to include the current bucket
    (the ES doc's "shift of 1"); larger shifts look forward.

    - max/min/sum/unweightedAvg: plain frame aggregates.
    - stdDev: POPULATION std of the frame, re-derived closed-form
      (sqrt(avg(x^2) - avg(x)^2)) so both engines share the algebra.
    - linearWeightedAvg: weights 1..m in frame order (most recent
      bucket weighs m — the ES MovingFunctions iteration order).

    Runs on the parent histogram's bucket series (panel-sized) — the
    single unpartitioned window is the ES coordinator reduction, not a
    data-sized funnel; at 100 TB the input here is still only the
    bucket table."""
    from pyspark.sql import Window

    lo, hi = -window + shift, shift - 1
    w = Window.orderBy(order_col).rowsBetween(lo, hi)
    v = F.col(val_col).cast("double")
    out = df
    cnt = F.count(v).over(w)
    for fn in fns:
        name = f"m{fn.lower()}{window}_{val_col}" if fn.isalpha() else fn
        if fn == "max":
            col = F.max(v).over(w)
        elif fn == "min":
            col = F.min(v).over(w)
        elif fn == "sum":
            col = F.sum(v).over(w)
        elif fn == "unweightedAvg":
            col = F.avg(v).over(w)
        elif fn == "stdDev":
            col = F.sqrt(F.avg(v * v).over(w) - F.avg(v).over(w)
                         * F.avg(v).over(w))
        elif fn == "linearWeightedAvg":
            arr = F.collect_list(v).over(w)
            num = F.aggregate(
                F.transform(arr, lambda x, i: x * (i + F.lit(1))),
                F.lit(0.0), lambda a, x: a + x)
            den = F.aggregate(
                F.transform(arr, lambda x, i: (i + F.lit(1)).cast("double")),
                F.lit(0.0), lambda a, x: a + x)
            col = F.when(F.size(arr) > 0, num / den)
        else:
            raise ValueError(f"unknown moving_fn: {fn}")
        out = out.withColumn(name, F.when(cnt > 0, col))
    return out


def rate_agg(df: DataFrame, ts_col: str, bucket: str,
             unit_sec: int) -> DataFrame:
    """ES `rate` aggregation inside a date_histogram: per-bucket event
    count rescaled to a rate per `unit_sec` (ES `unit`, e.g. per-hour
    rates inside 12h buckets = n * 3600/43200). Same single
    map-side-combinable scan as the parent histogram — the rescale is
    a per-bucket constant multiply."""
    bucket_sec = {"12h": 43200, "week": 604800}.get(bucket)
    if bucket_sec is None:
        raise ValueError(f"rate_agg: unsupported bucket {bucket!r}")
    h = date_histogram(df, ts_col, bucket)
    return h.withColumn(
        "rate", F.col("n") * (float(unit_sec) / bucket_sec))


def top_metrics(df: DataFrame, group_col: str, sort_col: str,
                metric_col: str, tie_col: str,
                desc: bool = True) -> DataFrame:
    """ES `top_metrics` aggregation: per bucket, the metric value taken
    from the document with the extreme sort value — ES's cheaper
    one-hit top_hits. Implemented as max_by/min_by over a (sort, tie)
    struct: a map-side-combinable aggregate (each partition keeps ONE
    candidate per group — no per-group sort, no window), the same
    per-shard reduce ES runs. `tie_col` pins tie order (ES leaves ties
    undefined; we make them deterministic: highest tie wins under
    max_by's lexicographic struct compare, so callers pass e.g. -doc_id
    for lowest-id-wins)."""
    key = F.struct(F.col(sort_col), F.col(tie_col))
    pick = F.max_by if desc else F.min_by
    return (
        df.groupBy(group_col)
        .agg(pick(F.col(metric_col), key).alias("metric"),
             pick(F.col(sort_col), key).alias("sort_value"))
        .orderBy(group_col)
    )


def t_test_agg(df: DataFrame, a_col: str, b_col: str,
               typ: str = "heteroscedastic") -> DataFrame:
    """ES `t_test` aggregation. `a_col`/`b_col` are the two numeric
    columns (ES's two-field form; the filter form is the caller
    projecting conditional columns). Types, per ES:

    - paired: t = mean(a-b) / (sd(a-b)/sqrt(n)), df = n-1 (rows where
      either side is NULL are skipped, the ES missing-value rule);
    - homoscedastic: pooled-variance two-sample t, df = na+nb-2;
    - heteroscedastic: Welch's t with Welch-Satterthwaite df.

    Everything is re-derived closed-form from power sums (s1, s2, n per
    side — one map-side-combinable scan) so both engines share the
    algebra bit-for-bit; sample variance = (s2 - s1^2/n)/(n-1).

    DIVERGENCE (documented): ES returns the two-sided p-value; the
    p-value needs the regularised incomplete beta, which no SQL oracle
    can express — we return (t_stat, deg_f) and expose
    `t_test_p_value(t, deg_f)` as an exact driver-side scalar (pytest-
    pinned against published t-table values) for callers that want the
    ES number."""
    a, b = F.col(a_col).cast("double"), F.col(b_col).cast("double")
    if typ == "paired":
        d = F.when(a.isNotNull() & b.isNotNull(), a - b)
        agg = df.agg(F.count(d).alias("n"), F.sum(d).alias("s1"),
                     F.sum(d * d).alias("s2"))
        return agg.select(
            (F.col("s1") / F.col("n") /
             F.sqrt(((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                     / (F.col("n") - 1)) / F.col("n"))).alias("t_stat"),
            (F.col("n") - 1).cast("double").alias("deg_f"))
    if typ not in ("heteroscedastic", "homoscedastic"):
        raise ValueError(f"t_test_agg: unknown type {typ!r}")
    agg = df.agg(
        F.count(a).alias("na"), F.sum(a).alias("sa1"),
        F.sum(a * a).alias("sa2"),
        F.count(b).alias("nb"), F.sum(b).alias("sb1"),
        F.sum(b * b).alias("sb2"))
    na, nb = F.col("na"), F.col("nb")
    ma, mb = F.col("sa1") / na, F.col("sb1") / nb
    va = (F.col("sa2") - F.col("sa1") * F.col("sa1") / na) / (na - 1)
    vb = (F.col("sb2") - F.col("sb1") * F.col("sb1") / nb) / (nb - 1)
    if typ == "homoscedastic":
        vp = ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)
        t = (ma - mb) / F.sqrt(vp * (1 / na + 1 / nb))
        deg = (na + nb - 2).cast("double")
    else:
        se2 = va / na + vb / nb
        t = (ma - mb) / F.sqrt(se2)
        deg = se2 * se2 / (va * va / (na * na * (na - 1))
                           + vb * vb / (nb * nb * (nb - 1)))
    return agg.select(t.alias("t_stat"), deg.alias("deg_f"))


def t_test_p_value(t_stat: float, deg_f: float) -> float:
    """Two-sided Student-t p-value for :func:`t_test_agg` — the number
    ES's t_test agg actually reports. Exact via the regularised
    incomplete beta I_{df/(df+t^2)}(df/2, 1/2) evaluated with the
    standard Lentz continued fraction (driver-side scalar; the
    distributed work already happened in t_test_agg)."""
    import math
    if deg_f <= 0:
        raise ValueError("deg_f must be positive")
    x = deg_f / (deg_f + t_stat * t_stat)
    if x >= 1.0:   # t = 0 -> the two-sided p-value is exactly 1
        return 1.0
    if x <= 0.0:   # |t| astronomically large
        return 0.0
    a, b = deg_f / 2.0, 0.5

    def betacf(a, b, x):
        tiny = 1e-300
        qab, qap, qam = a + b, a + 1.0, a - 1.0
        c, d = 1.0, 1.0 - qab * x / qap
        if abs(d) < tiny:
            d = tiny
        d = 1.0 / d
        h = d
        for m in range(1, 200):
            m2 = 2 * m
            aa = m * (b - m) * x / ((qam + m2) * (a + m2))
            d = 1.0 + aa * d
            if abs(d) < tiny:
                d = tiny
            c = 1.0 + aa / c
            if abs(c) < tiny:
                c = tiny
            d = 1.0 / d
            h *= d * c
            aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
            d = 1.0 + aa * d
            if abs(d) < tiny:
                d = tiny
            c = 1.0 + aa / c
            if abs(c) < tiny:
                c = tiny
            d = 1.0 / d
            delta = d * c
            h *= delta
            if abs(delta - 1.0) < 1e-14:
                break
        return h

    lbeta = (math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b))
    front = math.exp(a * math.log(x) + b * math.log(1.0 - x) - lbeta) / a
    if x < (a + 1.0) / (a + b + 2.0):
        ibeta = front * betacf(a, b, x)
    else:
        front2 = math.exp(b * math.log(1.0 - x) + a * math.log(x)
                          - lbeta) / b
        ibeta = 1.0 - front2 * betacf(b, a, 1.0 - x)
    return min(1.0, max(0.0, ibeta))


def matrix_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """ES `matrix_stats` aggregation over a set of numeric fields:
    per-field count/mean/variance/skewness/kurtosis plus the pairwise
    covariance and correlation matrices. ONE map-side-combinable scan
    collects every power sum (x, x^2, x^3, x^4 per field, x*y per
    pair); all statistics are re-derived closed-form from those sums
    (population moments: variance m2, skewness m3/m2^1.5, kurtosis
    m4/m2^2 — engines' builtin skewness/kurtosis differ in bias
    correction, so the closed-form algebra is the cross-engine
    contract, same device as extended_stats). Output is long-form
    (field, stat, other_field, value) so the matrix rows and the
    per-field rows share one schema. The aggregate state is
    O(len(cols)^2) scalars — driver-safe at any data size.

    Complete-observations rule: ES matrix_stats EXCLUDES a document
    missing ANY of the fields, so rows with a NULL in any of `cols`
    are filtered out before the scan — otherwise every mean/variance/
    covariance would divide by a row count the per-field NULL-skipping
    power sums never saw."""
    if len(cols) < 2:
        raise ValueError("matrix_stats needs >= 2 columns")
    for c in cols:
        df = df.filter(F.col(c).isNotNull())
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        x = F.col(c).cast("double")
        aggs += [F.sum(x).alias(f"{c}_1"), F.sum(x * x).alias(f"{c}_2"),
                 F.sum(x * x * x).alias(f"{c}_3"),
                 F.sum(x * x * x * x).alias(f"{c}_4")]
    for i, ca in enumerate(cols):
        for cb in cols[i + 1:]:
            aggs.append(F.sum(F.col(ca).cast("double")
                              * F.col(cb).cast("double"))
                        .alias(f"{ca}__{cb}"))
    base = df.agg(*aggs)
    n = F.col("n")
    rows = []
    for c in cols:
        s1, s2 = F.col(f"{c}_1"), F.col(f"{c}_2")
        s3, s4 = F.col(f"{c}_3"), F.col(f"{c}_4")
        mean = s1 / n
        m2 = s2 / n - mean * mean
        m3 = s3 / n - 3 * mean * s2 / n + 2 * mean * mean * mean
        m4 = (s4 / n - 4 * mean * s3 / n + 6 * mean * mean * s2 / n
              - 3 * mean * mean * mean * mean)
        for stat, v in (("count", n.cast("double")), ("mean", mean),
                        ("variance", m2),
                        ("skewness", m3 / F.pow(m2, 1.5)),
                        ("kurtosis", m4 / (m2 * m2))):
            rows.append((c, stat, None, v))
    for i, ca in enumerate(cols):
        for cb in cols[i + 1:]:
            sxy = F.col(f"{ca}__{cb}")
            mab = F.col(f"{ca}_1") / n * (F.col(f"{cb}_1") / n)
            cov = sxy / n - mab
            va = F.col(f"{ca}_2") / n - F.pow(F.col(f"{ca}_1") / n, 2)
            vb = F.col(f"{cb}_2") / n - F.pow(F.col(f"{cb}_1") / n, 2)
            corr = cov / F.sqrt(va * vb)
            rows.append((ca, "covariance", cb, cov))
            rows.append((ca, "correlation", cb, corr))
    structs = F.array(*[
        F.struct(F.lit(f).alias("field"), F.lit(s).alias("stat"),
                 F.lit(o).cast("string").alias("other_field"),
                 v.alias("value"))
        for f, s, o, v in rows])
    return (base.select(F.explode(structs).alias("r"))
            .select("r.field", "r.stat", "r.other_field", "r.value"))


def categorize_text(df: DataFrame, col: str, max_tokens: int = 10,
                    k: int = 10) -> DataFrame:
    """ES `categorize_text` aggregation — semi-structured log lines
    grouped into message categories. PINNED SIMPLIFICATION: ES builds
    categories with an incremental token-tree merge whose buckets
    depend on shard visit order; this engine uses the deterministic
    core of the same idea — the category KEY is the first `max_tokens`
    letter-only tokens (any token containing a digit is variable
    content and drops, ES's own tokenizer rule) — so identical inputs
    always produce identical categories. One scan, one map-side-
    combinable groupBy on the derived key; top-k by doc_count desc,
    key asc. Rows whose text has no letter tokens are skipped (no
    category, the ES null-bucket rule)."""
    toks = F.expr(
        f"regexp_extract_all(lower({col}), '[a-z0-9]+', 0)")
    sig = F.array_join(
        F.slice(F.filter(toks, lambda t: ~t.rlike("[0-9]")),
                1, max_tokens), " ")
    return (
        df.select(sig.alias("key"))
        .filter(F.col("key") != "")
        .groupBy("key").agg(F.count("*").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(k)
    )


def _restrict_to_frequent(tx: DataFrame, freq_items: list[str],
                          out: str = "fi") -> DataFrame:
    """Per-transaction sorted array of FREQUENT items only, with the
    frequent-item list shipped as a BROADCAST one-row array — never as
    a plan literal. At the ES default min_support=0.001 over a
    web-scale item vocabulary the frequent-singleton list reaches
    10^4-10^5 elements; `F.array(*[F.lit(t) ...])` at that size is a
    driver-side plan/codegen blowup (every element becomes an
    expression in the generated Java source). A one-row LocalRelation
    cross-joined with `F.broadcast` travels as data (one
    BroadcastExchange of ~MBs), keeps the per-row work a JVM
    array_intersect, and adds ZERO shuffles."""
    spark = tx.sparkSession
    f_df = spark.createDataFrame([(sorted(freq_items),)],
                                 "_freq array<string>")
    return (tx.crossJoin(F.broadcast(f_df))
            .withColumn(out, F.array_sort(
                F.array_intersect("items", "_freq")))
            .drop("_freq"))


def frequent_item_sets(df: DataFrame, items_col: str,
                       min_support: float = 0.1,
                       min_set_size: int = 1, max_set_size: int = 3,
                       size: int = 10) -> DataFrame:
    """ES `frequent_item_sets` aggregation (8.x) — market-basket
    mining over a multi-valued field. PINNED: ES runs an approximate
    sampled ECLAT; this is EXACT level-wise Apriori up to
    `max_set_size` 3 (the ES default), deterministic at any shard
    order — same intent, exactness documented not guessed.

    `items_col` is an array column (one transaction per row; duplicate
    items within a row count once, the ES rule). Support = fraction of
    transactions containing ALL items of the set.

    Scale shape — textbook distributed Apriori: each level k broadcasts
    the frequent (k-1)-sets (as DATA via :func:`_restrict_to_frequent`'s
    broadcast one-row array, never as a plan literal) and enumerates
    per-transaction k-combos ONLY over items frequent at level 1
    (candidate arrays are |frequent items in the row| choose k, bounded
    by the support threshold, never |vocabulary| choose k); counts are
    map-side-combinable groupBys. Only the frequent-set lists
    (result-sized, bounded by n_tx * min_support^-1 per level) reach
    the driver between levels."""
    if not (0.0 < min_support <= 1.0):
        raise ValueError("min_support must be in (0, 1]")
    if not (1 <= min_set_size <= max_set_size <= 3):
        raise ValueError("need 1 <= min_set_size <= max_set_size <= 3")
    tx = df.select(F.array_distinct(F.col(items_col)).alias("items"))
    tx = tx.filter(F.size("items") > 0).cache()
    n_tx = tx.count()
    if n_tx == 0:
        return df.sparkSession.createDataFrame(
            [], "items array<string>, doc_count long, support double")
    min_n = int(min_support * n_tx + 0.9999999)  # ceil, >= 1
    min_n = max(min_n, 1)
    levels = []
    l1 = (tx.select(F.explode("items").alias("i"))
          .groupBy("i").agg(F.count("*").alias("n"))
          .filter(F.col("n") >= min_n))
    l1_rows = l1.collect()  # result-sized: frequent singletons only
    levels.append([([r["i"]], r["n"]) for r in l1_rows])
    freq1 = sorted(r["i"] for r in l1_rows)
    if freq1 and max_set_size >= 2:
        fi = F.col("fi")
        # ordered pairs (i < j) via nested transforms — pure JVM
        pairs = F.flatten(F.transform(
            fi, lambda x, i: F.transform(
                F.slice(fi, i + F.lit(2),
                        F.greatest(F.size(fi) - i - 1, F.lit(0))),
                lambda y: F.array(x, y))))
        l2 = (_restrict_to_frequent(tx, freq1)
              .select(F.explode(pairs).alias("s"))
              .groupBy("s").agg(F.count("*").alias("n"))
              .filter(F.col("n") >= min_n))
        l2_rows = l2.collect()
        levels.append([(list(r["s"]), r["n"]) for r in l2_rows])
        if l2_rows and max_set_size >= 3:
            # Apriori prune: a frequent triple's three sub-pairs are
            # all frequent — enumerate triples only over items that
            # appear in some frequent pair, then verify sub-pairs
            pair_set = {tuple(r["s"]) for r in l2_rows}
            pitems = sorted({t for p in pair_set for t in p})
            fi2 = F.col("fi")
            triples = F.flatten(F.transform(
                fi2, lambda x, i: F.flatten(F.transform(
                    F.slice(fi2, i + F.lit(2),
                            F.greatest(F.size(fi2) - i - 1, F.lit(0))),
                    lambda y, j: F.transform(
                        F.slice(fi2, i + j + F.lit(3),
                                F.greatest(F.size(fi2) - i - j - 2,
                                           F.lit(0))),
                        lambda z: F.array(x, y, z))))))
            l3 = (_restrict_to_frequent(tx, pitems)
                  .select(F.explode(triples).alias("s"))
                  .groupBy("s").agg(F.count("*").alias("n"))
                  .filter(F.col("n") >= min_n))
            l3_rows = [
                (list(r["s"]), r["n"]) for r in l3.collect()
                if (r["s"][0], r["s"][1]) in pair_set
                and (r["s"][0], r["s"][2]) in pair_set
                and (r["s"][1], r["s"][2]) in pair_set
            ]
            levels.append(l3_rows)
    tx.unpersist()
    out = [(items, n) for lvl in levels[min_set_size - 1:max_set_size]
           for items, n in lvl]
    out.sort(key=lambda it: (-it[1], it[0]))
    spark = df.sparkSession
    return spark.createDataFrame(
        [(items, n, n / n_tx) for items, n in out[:size]],
        "items array<string>, doc_count long, support double")


def variable_width_histogram(df: DataFrame, col: str,
                             buckets: int = 10) -> DataFrame:
    """ES `variable_width_histogram` aggregation — buckets sized by the
    data rather than a fixed interval. PINNED DETERMINISTIC FORM: ES
    clusters with a shard-order-dependent streaming merge; this engine
    uses value-atomic equal-depth buckets — every distinct VALUE maps
    whole to bucket floor(rows_before * buckets / n), so equal values
    never split and identical inputs always bucket identically. Output
    mirrors ES: per bucket (key = weighted mean, min, max, doc_count).

    Scale shape: one distributed value-count groupBy reduces the data
    to the DISTINCT-VALUE table; the running total over that table is
    a RANGE-PARTITIONED TWO-PASS cumulative sum. Slice boundaries come
    from one approxQuantile probe (a second cardinality-sized pass —
    the same two-pass cost ES's per-shard sketches pay); each distinct
    value maps to slice `#{boundaries < v}` — a DETERMINISTIC, monotone
    function of the value (never spark_partition_id, whose mapping two
    AQE-coalesced reads of one exchange need not share). The cumsum
    then runs WITHIN each slice under a pid-partitioned window
    (parallel tasks), plus per-slice offsets from a ledger whose row
    count is the slice count — the ONLY single-task window in the
    operator. On a continuous double column the distinct-value table
    approaches the data itself, so a global `Window.orderBy(v)` would
    be a single-task sort of ~the dataset at 100x — this shape never
    sorts more than one value slice per task."""
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    vc = (df.filter(F.col(col).isNotNull())
          .groupBy(F.col(col).alias("v"))
          .agg(F.count("*").alias("c")))
    tot = vc.agg(F.sum("c").alias("n"))
    spark = df.sparkSession
    # slice count = cumsum parallelism; capped so the boundary list (a
    # driver-side, config-sized expression) stays small at any
    # spark.sql.shuffle.partitions setting
    n_slices = min(max(int(spark.conf.get(
        "spark.sql.shuffle.partitions", "32")), 1), 1024)
    bnds: list[float] = []
    if n_slices > 1:
        qs = [i / n_slices for i in range(1, n_slices)]
        bnds = sorted(set(
            vc.select(F.col("v").cast("double").alias("vd"))
            .approxQuantile("vd", qs, 0.001)))
    if bnds:
        # pid = #{boundaries < v}: a plain sum of comparisons (a lambda
        # HOF referencing the outer column trips a Catalyst
        # INTERNAL_ERROR when the expression is folded into the ledger
        # groupBy); monotone in v, so slices are contiguous ranges
        vd = F.col("v").cast("double")
        pid = sum(((F.lit(float(b)) < vd).cast("int") for b in bnds),
                  start=F.lit(0))
    else:
        pid = F.lit(0)
    parts = vc.withColumn("pid", pid)
    off = (parts.groupBy("pid").agg(F.sum("c").alias("pc"))
           .withColumn("off", F.coalesce(
               F.sum("pc").over(
                   Window.orderBy("pid")
                   .rowsBetween(Window.unboundedPreceding, -1)),
               F.lit(0)))
           .select("pid", "off"))
    assigned = (
        parts.join(F.broadcast(off), "pid")
        .crossJoin(F.broadcast(tot))
        .withColumn("run", F.sum("c").over(
            Window.partitionBy("pid").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("before", F.col("off") + F.col("run") - F.col("c"))
        .withColumn("bucket", F.floor(F.col("before") * buckets
                                      / F.col("n")))
    )
    return (
        assigned.groupBy("bucket")
        .agg((F.sum(F.col("v") * F.col("c")) / F.sum("c")).alias("key"),
             F.min("v").alias("min"), F.max("v").alias("max"),
             F.sum("c").alias("doc_count"))
        .orderBy("bucket")
    )
