"""Incremental + streaming index builds, resumable from snapshot checkpoints.

The reference's `dropzone` mode polls a directory, waits for files to go
quiescent, runs the SAME batch pipeline over them, then deletes the inputs
(reference: cmd/dropzone.go:51-106, quiescence fileWatcher.go:45-71, delete
99-103 — at-most-once). Our analogue replaces destructive consume with
checkpointed snapshots (exactly-once): each micro-batch appends a child
snapshot whose manifest records its parent and its source ids; a crash
before commit leaves the previous manifest intact (the half-written
snapshot dir is garbage-collected by abort_uncommitted), and re-delivery of
an already-committed source is a no-op. That is the "resumable from Iceberg
snapshot checkpoints" contract of the north rule, expressed on the plain
parquet catalog (sources/catalog.py).

Append mechanics: new docs get doc_ids starting at the committed n_docs, so
their doc-range shards sit at or after the last committed shard and delta
posting blocks never overlap parent block ranges — the chained read
(catalog CHAINED_TABLES) IS the posting-list merge, no rewrite. BM25 global
stats (N, avgdl, per-term df) are re-merged per snapshot from parent stats
+ delta rollup, so queries against the child snapshot score with
whole-index statistics.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.storagelevel import StorageLevel
from pyspark.sql import functions as F

from picdexer_spark.functions.tokenize import tokens_col
from picdexer_spark.index.build import (
    STATS_PA_SCHEMA,
    BuildResult,
    IndexConfig,
    _write_small_table,
    build_index,
)
from picdexer_spark.index.termdict import TERM_STATS_SCHEMA, write_term_stats
from picdexer_spark.sources.catalog import IndexCatalog


def _next_doc_id(spark: SparkSession, cat: IndexCatalog,
                 committed: dict) -> int:
    """doc_id allocation floor for the next snapshot. Prefer the recorded
    high-water mark; on a legacy snapshot without one, derive it from
    max(doc_id)+1 over the RAW docs chain (tombstoned rows included) —
    the LIVE n_docs undercounts after deletions, and reusing a doc_id
    would corrupt the tombstone/shard invariants."""
    nxt = committed.get("next_doc_id")
    if nxt is not None:
        return int(nxt)
    top = cat.read(spark, "docs").agg(F.max("doc_id").alias("m")).first()["m"]
    return int(top) + 1 if top is not None else 0


def build_incremental(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    source_id: str = "batch-0",
) -> BuildResult | None:
    """Append one batch of pages as a child snapshot, with UPSERT semantics.

    Returns None when `source_id` was already committed (idempotent
    re-delivery — the at-least-once streaming case). Per-row identity is
    content-addressed like the reference's md5 FileID (common.go:44-63,
    elasticsearch.go:185-190):

    - url unseen               -> indexed as a new doc;
    - url seen, SAME text md5  -> dropped (pure redelivery);
    - url seen, NEW text md5   -> UPSERT: the old doc_id is appended to the
      chained `deletes` table (tombstone — postings are never rewritten in
      place, the Lucene delete-bitmap / Iceberg positional-delete pattern)
      and the new content is indexed under a fresh doc_id.

    Whole-index stats (n_docs, total_len, avgdl) are tombstone-adjusted at
    commit; per-term df stays lazy until :func:`compact` (exactly Lucene's
    contract — deletes hide hits immediately, statistics converge at merge).
    """
    cfg = cfg or IndexConfig()
    cat = IndexCatalog(index_dir)
    manifest = cat.read_manifest()
    if source_id in manifest["processed_sources"]:
        return None
    parent = manifest["current"]

    # extract once so content identity (text md5) is known BEFORE deciding
    # what to index; build_index re-runs extract on html=NULL rows, which
    # keeps the already-extracted text byte-identically (the skip path).
    # Extraction FAILURES flow through (new_md5 NULL): they never tombstone
    # or match, and build_index drops AND counts them (docs_dropped stays
    # honest). In-batch url conflicts resolve LAST-WRITE-WINS by warc_ts
    # (the ES index-by-id overwrite semantics), md5 as deterministic
    # tie-break; failed rows lose to any successful extraction of the url.
    from picdexer_spark.index.build import extract_text

    extracted = extract_text(pages).drop("html").withColumn(
        "new_md5", F.md5("text")
    )
    w = Window.partitionBy("url").orderBy(
        F.desc("extract_ok"), F.desc("warc_ts"), F.asc("new_md5")
    )
    extracted = (
        extracted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    if parent is None:
        fresh_pages = extracted.select(
            "url", "warc_ts", F.lit(None).cast("binary").alias("html"),
            "text", "lang",
        )
        return build_index(spark, fresh_pages, index_dir, cfg,
                           sources=[source_id])

    committed = cat.committed_stats(spark)
    n_committed = int(committed["n_docs"])
    next_id = _next_doc_id(spark, cat, committed)
    # the shard layout is a property of the INDEX, not of this batch's cfg:
    # tombstone-to-shard mapping and delta blocks must agree with the
    # committed chain or deleted docs would silently resurface
    shard_range = int(committed.get("shard_range") or cfg.shard_range)

    live = cat.read(spark, "docs").join(
        cat.read(spark, "deletes").select("doc_id"), "doc_id", "left_anti"
    )
    existing = live.select(
        "url",
        F.col("text_md5").alias("old_md5"),
        F.col("doc_id").alias("old_doc_id"),
        F.col("doc_len").alias("old_len"),
        # url token count of the OLD doc: tombstoning it must back its
        # contribution out of the url-field stats too
        F.size(tokens_col("url")).cast("long").alias("old_url_len"),
    )
    # persist: both the tombstone collect and the delta build consume this
    # (without it the extract + dedup + doc-store join pipeline runs twice)
    joined = extracted.join(existing, "url", "left").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    fresh = joined.filter(
        F.col("old_md5").isNull()
        | F.col("new_md5").isNull()
        | (F.col("new_md5") != F.col("old_md5"))
    )
    # tombstones stay DISTRIBUTED: only their count + length sum come to the
    # driver (one metadata-sized agg row); the ids are written as a Spark
    # parquet table below. A full re-crawl batch (every url changed) never
    # funnels through the driver.
    tomb = joined.filter(
        F.col("old_md5").isNotNull()
        & F.col("new_md5").isNotNull()
        & (F.col("new_md5") != F.col("old_md5"))
    ).select("old_doc_id", "old_len", "old_url_len")
    trow = tomb.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum("old_len"), F.lit(0)).alias("len_sum"),
        F.coalesce(F.sum("old_url_len"), F.lit(0)).alias("url_len_sum"),
        F.count(F.when(F.col("old_url_len") > 0, F.lit(1)))
        .alias("url_n"),
    ).first()
    n_tomb = int(trow["n"])
    tomb_len = int(trow["len_sum"])
    tomb_url_len = int(trow["url_len_sum"])
    tomb_url_n = int(trow["url_n"])
    fresh_pages = fresh.select(
        "url", "warc_ts", F.lit(None).cast("binary").alias("html"),
        "text", "lang",
    )

    store_pos = bool(committed.get("positions") or False)
    # like positions/shard_range, whether url-field postings exist is a
    # property of the committed INDEX, not of this batch's cfg
    url_field = bool(committed.get("url_field") or False)
    delta_cfg = IndexConfig(
        shard_range=shard_range,
        block_size=cfg.block_size,
        import_id=cfg.import_id,
        id_offset=next_id,
        store_positions=store_pos,
        index_url_field=url_field,
        # the analyzer is a property of the committed INDEX too: a delta
        # batch analyzed with a different stop set would emit postings
        # for terms the parent filtered out (df/norm divergence)
        stopwords=tuple((committed.get("stopwords") or "").split()),
    )
    # write the delta snapshot WITHOUT committing, patch in whole-index
    # stats + tombstones, then commit atomically with the parent pointer
    res = build_index(
        spark, fresh_pages, index_dir, delta_cfg, sources=[source_id],
        commit=False,
    )
    snap_dir = os.path.join(index_dir, "snapshots", res.snapshot_id)

    if n_tomb:
        tomb.select(
            F.col("old_doc_id").alias("doc_id"),
            F.lit("upsert").alias("reason"),
            F.lit(res.snapshot_id).alias("snapshot_id"),
        ).write.mode("overwrite").parquet(os.path.join(snap_dir, "deletes"))
    joined.unpersist()

    # term_stats: parent full + delta rollup -> full table for this snapshot
    parent_ts = cat.read(spark, "term_stats", parent)
    delta_ts = spark.read.schema(TERM_STATS_SCHEMA).parquet(
        os.path.join(snap_dir, "term_stats"))
    merged = (
        parent_ts.unionByName(delta_ts)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )
    tmp = os.path.join(snap_dir, "term_stats_merged")
    write_term_stats(merged, tmp)
    final = os.path.join(snap_dir, "term_stats")
    shutil.rmtree(final)
    os.rename(tmp, final)

    # stats: parent + delta - tombstoned (LIVE corpus statistics), the
    # url-field pair merged with the same arithmetic
    n_docs = n_committed + res.n_docs - n_tomb
    delta_stats = spark.read.parquet(os.path.join(snap_dir, "stats")).first()
    delta_d = delta_stats.asDict()
    total_len = (int(committed["total_len"]) + int(delta_stats["total_len"])
                 - tomb_len)
    dropped = int(committed["docs_dropped"]) + res.docs_dropped
    avgdl = (total_len / n_docs) if n_docs else 0.0
    url_total_len = url_n_docs = 0
    if url_field:
        url_total_len = (int(committed.get("url_total_len") or 0)
                         + int(delta_d.get("url_total_len") or 0)
                         - tomb_url_len)
        url_n_docs = (int(committed.get("url_n_docs") or 0)
                      + int(delta_d.get("url_n_docs") or 0)
                      - tomb_url_n)
    shutil.rmtree(os.path.join(snap_dir, "stats"))
    _write_small_table(
        os.path.join(snap_dir, "stats"),
        {
            "n_docs": [n_docs],
            "total_len": [total_len],
            "avgdl": [float(avgdl)],
            "docs_dropped": [dropped],
            "import_id": [cfg.import_id],
            "next_doc_id": [next_id + res.n_docs],
            "shard_range": [shard_range],
            "positions": [store_pos],
            "url_field": [url_field],
            "url_total_len": [url_total_len],
            "url_n_docs": [url_n_docs],
            "stopwords": [" ".join(delta_cfg.stopwords)],
        },
        schema=STATS_PA_SCHEMA,
    )

    cat.commit(res.snapshot_id, [source_id], parent=parent)
    return BuildResult(res.snapshot_id, n_docs, res.n_postings_rows,
                       dropped, res.phase_secs)


def compact(
    spark: SparkSession,
    index_dir: str,
    cfg: IndexConfig | None = None,
) -> BuildResult:
    """Rewrite the live corpus as a FRESH snapshot: tombstoned docs drop
    out, doc_ids are re-assigned dense by url rank, per-term statistics
    become exact again (the Iceberg rewrite_data_files / Lucene segment-
    merge analogue). The result is bit-identical to a from-scratch build
    over the live corpus — tested. History stays readable (old snapshots
    keep their manifest entries); the new snapshot starts a fresh chain
    (parent=None)."""
    cat = IndexCatalog(index_dir)
    parent = cat.current_snapshot()
    committed = cat.committed_stats(spark) or {}
    if cfg is None:
        cfg = IndexConfig(
            shard_range=int(committed.get("shard_range") or IndexConfig().shard_range),
            store_positions=bool(committed.get("positions") or False),
            index_url_field=bool(committed.get("url_field") or False),
            stopwords=tuple((committed.get("stopwords") or "").split()),
        )
    live = cat.read(spark, "docs").join(
        cat.read(spark, "deletes").select("doc_id"), "doc_id", "left_anti"
    )
    pages = live.select(
        "url", "warc_ts", F.lit(None).cast("binary").alias("html"),
        "text", "lang",
    )
    res = build_index(
        spark, pages, index_dir,
        IndexConfig(shard_range=cfg.shard_range, block_size=cfg.block_size,
                    import_id=f"compact-{parent}",
                    store_positions=cfg.store_positions,
                    index_url_field=cfg.index_url_field,
                    stopwords=cfg.stopwords),
        sources=[], commit=False,
    )
    cat.commit(res.snapshot_id, [], parent=None)
    return res


def merge_chain(spark: SparkSession, index_dir: str,
                max_segments: int = 8, expire: bool = False) -> str | None:
    """Physical segment merge — the Lucene tiered-merge / Iceberg
    rewrite_data_files+expire_snapshots maintenance step :func:`compact`
    deliberately is not: after N streaming appends the snapshot chain is
    N delta directories and every chained read unions N parquet listings
    (`SearchEngine.index_stats()` reports it as `segments`). This folds
    the OLDEST part of the chain into one snapshot **without touching a
    single row**: doc_ids, postings, tombstones and statistics are
    byte-preserved (unlike compact, which re-ids and drops tombstones),
    so reads over the rewired chain are row-identical — only the
    directory fan-in shrinks.

    Keeps the newest ``max_segments - 1`` snapshots as-is and merges the
    rest; no-op (returns None) when the chain is already short enough.
    The merged snapshot unions each chained table's tail deltas (a
    map-only Spark job — no shuffle) and file-copies term_stats/stats from
    the newest tail member that has them (exactly what nearest-ancestor
    resolution returned before). One atomic manifest write then rewires
    the surviving child's parent pointer — crash before it leaves the old
    chain fully intact (the orphan dir is abort_uncommitted fodder).

    ``expire=True`` additionally drops the folded snapshots from the
    manifest and reclaims their directories (Iceberg expire_snapshots:
    time-travel to them ends, space returns). Default keeps them —
    unreachable from the live chain but still pinnable by snapshot_id.

    Deletion is DEFERRED BY ONE MERGE CYCLE (ADVICE r6): a reader pinned
    by snapshot_id to a just-folded snapshot would fail mid-query on
    missing parquet files if the fold deleted directories immediately
    (Lucene keeps segment files until open readers close; we have no
    reader registry, so one fold cycle is the grace window). The freshly
    folded ids are recorded under the manifest's ``expire_pending`` key
    and physically deleted by the NEXT expiring fold; crash-orphan
    cleanup (abort_uncommitted) leaves pending dirs alone.
    """
    import time

    from picdexer_spark.sources.catalog import (CHAINED_SCHEMAS,
                                                CHAINED_TABLES)

    if max_segments < 1:
        raise ValueError(f"max_segments must be >= 1, got {max_segments}")
    cat = IndexCatalog(index_dir)
    chain = cat.parent_chain()  # newest first
    if len(chain) <= max_segments:
        return None
    tail = chain[max_segments - 1:]          # newest-first, >= 2 entries
    merged_id = cat.new_snapshot_id()
    merged_dir = os.path.join(index_dir, "snapshots", merged_id)
    # a crashed earlier merge may have left an orphan dir under this
    # (uncommitted, hence recycled) id — clear it, or the parquet writes
    # below fail on every retry and stale half-written tables linger
    shutil.rmtree(merged_dir, ignore_errors=True)

    def _dst(table: str) -> str:
        if table == "postings":
            return os.path.join(merged_dir, "postings", "field=text")
        if table == "postings_url":
            return os.path.join(merged_dir, "postings", "field=url")
        return os.path.join(merged_dir, table)

    for table in sorted(CHAINED_TABLES):
        paths = [p for p in (cat.table_path(table, sid) for sid in tail)
                 if os.path.isdir(p)]
        if not paths:
            continue
        spark.read.schema(CHAINED_SCHEMAS[table]).parquet(*paths) \
            .write.parquet(_dst(table))
    # term_stats/stats are immutable once committed: a file copy keeps
    # them byte-for-byte (term_stats' sorted row-group layout included)
    # without a Spark read+write job each
    for table in ("term_stats", "stats"):
        for sid in tail:  # newest tail member wins = nearest-ancestor rule
            p = cat.table_path(table, sid)
            if os.path.isdir(p):
                shutil.copytree(p, _dst(table))
                break

    m = cat.read_manifest()
    by_id = {s["id"]: s for s in m["snapshots"]}
    tail_sources = [src for sid in reversed(tail)
                    for src in by_id[sid].get("sources") or []]
    m["snapshots"].append(
        {"id": merged_id, "committed_at": time.time(),
         "sources": tail_sources, "parent": None,
         "merged_from": list(tail)}
    )
    if tail[0] == m["current"]:  # whole chain folded
        m["current"] = merged_id
    else:
        by_id[chain[max_segments - 2]]["parent"] = merged_id
    drop_now: list[str] = []
    if expire:
        dead = set(tail)
        m["snapshots"] = [s for s in m["snapshots"] if s["id"] not in dead]
        # one-cycle deletion grace: reclaim the PREVIOUS fold's pending
        # dirs now, queue this fold's for the next one
        drop_now = [sid for sid in m.get("expire_pending", [])
                    if sid not in dead]
        m["expire_pending"] = sorted(dead)
    cat._write_manifest(m)  # the single atomic commit point
    for sid in drop_now:
        shutil.rmtree(os.path.join(index_dir, "snapshots", sid),
                      ignore_errors=True)
    return merged_id


def reindex(
    spark: SparkSession,
    src_index_dir: str,
    dst_index_dir: str,
    *,
    query_terms: list[str] | None = None,
    mode: str = "disjunctive",
    filters: list = (),
    cfg: IndexConfig | None = None,
) -> BuildResult:
    """ES `_reindex` API: copy the source index's LIVE docs into a
    fresh index at `dst_index_dir`, optionally restricted by a query
    and/or typed filters — the reindex-with-query form every ES
    migration/subsetting runbook uses.

    The restriction runs through the SAME machinery as search:
    `query_terms` resolve via match_ids' exact shard kernels (a
    candidate-sized semi-join against the live docs — never a second
    matching code path), `filters` through the schema-driven typed
    compiler. The destination is a from-scratch build: doc_ids
    re-assign dense by url rank (the ES contract — a new index has new
    internal ids), per-term statistics are exact, and the index config
    is inherited from the source's committed stats unless overridden.

    Scale shape: one docs-table scan + (optionally) one candidate
    semi-join, then the standard single-exchange build at dst. Nothing
    data-sized reaches the driver."""
    from picdexer_spark.query.bm25 import SearchEngine

    cat = IndexCatalog(src_index_dir)
    committed = cat.committed_stats(spark) or {}
    if cfg is None:
        cfg = IndexConfig(
            shard_range=int(committed.get("shard_range")
                            or IndexConfig().shard_range),
            store_positions=bool(committed.get("positions") or False),
            index_url_field=bool(committed.get("url_field") or False),
            stopwords=tuple((committed.get("stopwords") or "").split()),
        )
    live = cat.read(spark, "docs").join(
        cat.read(spark, "deletes").select("doc_id"), "doc_id", "left_anti"
    )
    if query_terms is not None or filters:
        eng = SearchEngine(spark, src_index_dir)
        keep = eng.match_ids(list(query_terms or []), mode, filters)
        live = live.join(keep, "doc_id", "left_semi")
    pages = live.select(
        "url", "warc_ts", F.lit(None).cast("binary").alias("html"),
        "text", "lang",
    )
    return build_index(
        spark, pages, dst_index_dir,
        IndexConfig(shard_range=cfg.shard_range, block_size=cfg.block_size,
                    import_id=f"reindex-{cat.current_snapshot()}",
                    store_positions=cfg.store_positions,
                    index_url_field=cfg.index_url_field),
    )


def update_by_query(
    spark: SparkSession,
    index_dir: str,
    transform,
    terms: list[str] | None = None,
    mode: str = "disjunctive",
    filters: list = (),
    source_id: str | None = None,
) -> int:
    """ES `_update_by_query`: match set -> in-place transform ->
    upsert — the third member of the ES mutation triad beside
    `_delete_by_query` and `_reindex`, composed entirely from existing
    machinery (match_ids' exact shard kernels for the match set,
    :func:`build_incremental`'s content-addressed upsert for the
    write — the reference's upsert-by-_id commit path,
    internal/elasticsearch/elasticsearch.go:185-190).

    `transform` is the "script": a callable taking the matched LIVE
    pages frame (url, warc_ts, html=NULL, text, lang) and returning the
    transformed frame over the same columns. ES contract pins:
    - `url` is the document _id and MUST be preserved — a transform
      that introduces unknown urls, drops rows, or forks a url into
      several rows is refused (ES scripts cannot change _id);
    - a doc whose transformed content is UNCHANGED is a noop (not
      reindexed, no version bump) — the `ctx.op = 'noop'` behaviour,
      pinned as the default here;
    - changed docs tombstone their old doc_id and reindex under a
      fresh one (delete-bitmap semantics, never in-place rewrites), so
      the final index is bit-identical to delete_by_query of the match
      set + re-ingest of the transformed pages.

    Returns the number of docs actually UPDATED (changed content);
    noops are not counted. Scale shape: the transform and the
    md5-diffed upsert run distributed end-to-end — only metadata-sized
    aggregate rows (validation counts, tombstone ledger) reach the
    driver."""
    from picdexer_spark.query.bm25 import SearchEngine

    cat = IndexCatalog(index_dir)
    parent = cat.current_snapshot()
    if parent is None:
        raise ValueError(f"no committed snapshot in {index_dir}")
    eng = SearchEngine(spark, index_dir, snapshot_id=parent)
    matched = eng.match_ids(list(terms or []), mode, list(filters))
    live = cat.read_live_docs(spark, parent)
    pages = (
        live.join(matched, "doc_id", "left_semi")
        .select("url", "warc_ts",
                F.lit(None).cast("binary").alias("html"), "text", "lang")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        n_matched = pages.count()
        if n_matched == 0:
            return 0
        out = transform(pages)
        required = ["url", "warc_ts", "html", "text", "lang"]
        if sorted(out.columns) != sorted(required):
            raise ValueError(
                f"transform must return exactly the pages columns "
                f"{required} (got {sorted(out.columns)})")
        out = out.select(*required)
        vrow = (
            out.join(pages.select("url").withColumn("_in", F.lit(1)),
                     "url", "left")
            .agg(F.count("*").alias("n_out"),
                 F.coalesce(F.sum("_in"), F.lit(0)).alias("n_known"),
                 F.countDistinct("url").alias("n_dist"))
            .first()
        )
        if int(vrow["n_known"]) != int(vrow["n_out"]):
            raise ValueError(
                "transform introduced urls outside the match set — "
                "_update_by_query cannot change or mint document _ids")
        if not (int(vrow["n_out"]) == int(vrow["n_dist"]) == n_matched):
            raise ValueError(
                f"transform must return exactly one row per matched doc "
                f"(matched {n_matched}, got {vrow['n_out']} rows / "
                f"{vrow['n_dist']} distinct urls)")
        # per-row identity is content-addressed on text md5 (the
        # reference's FileID, common.go:44-63): a metadata-only change
        # (lang/warc_ts edited, text identical) would silently drop as
        # a redelivery noop — refuse it rather than lose the update
        n_meta_only = (
            out.join(live.select("url", "text_md5",
                                 F.col("lang").alias("_ol"),
                                 F.col("warc_ts").alias("_ot")), "url")
            .filter(F.md5("text").eqNullSafe(F.col("text_md5"))
                    & (~F.col("lang").eqNullSafe(F.col("_ol"))
                       | ~F.col("warc_ts").eqNullSafe(F.col("_ot"))))
            .count()
        )
        if n_meta_only:
            raise ValueError(
                f"{n_meta_only} docs changed only metadata (lang/"
                f"warc_ts) with text unchanged — unsupported: upsert "
                f"identity is content-addressed on text; change the "
                f"text or reindex instead")
        res = build_incremental(
            spark, out, index_dir,
            IndexConfig(import_id="update_by_query"),
            source_id=source_id or f"update_by_query-{parent}",
        )
    finally:
        pages.unpersist()
    if res is None:  # source_id already committed — idempotent redelivery
        return 0
    return int(
        cat.read(spark, "deletes")
        .filter((F.col("snapshot_id") == res.snapshot_id)
                & (F.col("reason") == "upsert"))
        .count()
    )


def run_dropzone_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    *,
    checkpoint_dir: str,
    cfg: IndexConfig | None = None,
    available_now: bool = True,
    processing_time: str = "5 seconds",
    max_segments: int | None = None,
):
    """Streaming build: watch a pages directory, index each micro-batch.

    Structured Streaming's file source IS the quiescence/polling machinery
    the reference hand-rolls (fileWatcher.go:45-71): files are picked up
    once fully visible, offsets tracked in the checkpoint (vs the
    reference's delete-after-process, cmd/dropzone.go:99-103). foreachBatch
    applies the same incremental snapshot append as the batch path.
    Trigger.AvailableNow drains pending files and stops (test/e2e mode);
    ProcessingTime mirrors the reference's `period` config
    (cmd/dropzone.go:55-59).

    ``max_segments`` turns on Lucene-style merge-during-indexing: after a
    micro-batch commit grows the snapshot chain past the bound,
    :func:`merge_chain` folds the tail (row-identical, expire=True — a
    long-running stream must reclaim, else the folded dirs grow without
    bound). Runs inside foreachBatch BETWEEN commits, so a crash mid-merge
    costs nothing: the next batch retries it. Without the bound an
    always-on dropzone accumulates one delta dir per micro-batch and every
    query's chained read fans into thousands of listings.
    """
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("url", StringType()),
            StructField("warc_ts", TimestampType()),
            StructField("html", BinaryType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        build_incremental(
            spark, batch_df, index_dir, cfg, source_id=f"epoch-{epoch_id}"
        )
        if max_segments is not None:
            merge_chain(spark, index_dir, max_segments=max_segments,
                        expire=True)

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
    else:
        q = writer.trigger(processingTime=processing_time).start()
    return q


def delete_by_query(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    mode: str = "disjunctive",
    filters: list = (),
) -> int:
    """ES `_delete_by_query`: tombstone every LIVE doc matching the query
    (any mode, with kuery filters) as a new delete-only snapshot. Returns
    the number of docs deleted (0 commits nothing).

    Composition of existing invariants — no new machinery:
    - the match set comes from SearchEngine.match_ids (exact per-shard
      kernels; never collected — the tombstone table is written by Spark);
    - the snapshot carries ONLY `deletes` + patched `stats` (docs/postings
      dirs absent — the chained reader skips missing dirs) + the parent's
      `term_stats` copied forward (per-term df stays as-built until
      compact(), the Lucene deleted-docs-in-stats contract; the stats
      table's n_docs/avgdl ARE live for dashboards, while the engine
      SCORES with the as-built pair — SearchEngine reconstructs
      maxDoc/avgdl including tombstones so idf never goes negative);
    - delete-aware scoring (over-fetch + anti-join) and read_live_docs
      hide the docs immediately; compact() reclaims them.
    """
    import pyarrow as pa

    from picdexer_spark.query.bm25 import SearchEngine
    from picdexer_spark.sources.catalog import IndexCatalog

    cat = IndexCatalog(index_dir)
    parent = cat.current_snapshot()
    if parent is None:
        raise ValueError(f"no committed snapshot in {index_dir}")
    eng = SearchEngine(spark, index_dir, snapshot_id=parent)
    matched = eng.match_ids(terms, mode, list(filters))
    live = cat.read_live_docs(spark, parent)
    tomb = live.join(matched, "doc_id", "semi").select(
        "doc_id", "doc_len",
        F.size(tokens_col("url")).cast("long").alias("url_len"),
    )
    row = tomb.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum("doc_len"), F.lit(0)).alias("len_sum"),
        F.coalesce(F.sum("url_len"), F.lit(0)).alias("url_len_sum"),
        F.count(F.when(F.col("url_len") > 0, F.lit(1))).alias("url_n"),
    ).first()
    n_del, len_sum = int(row["n"]), int(row["len_sum"])
    del_url_len, del_url_n = int(row["url_len_sum"]), int(row["url_n"])
    if n_del == 0:
        return 0

    snapshot_id = cat.new_snapshot_id()
    snap_dir = os.path.join(index_dir, "snapshots", snapshot_id)
    os.makedirs(snap_dir, exist_ok=True)
    tomb.select(
        "doc_id",
        F.lit("delete_by_query").alias("reason"),
        F.lit(snapshot_id).alias("snapshot_id"),
    ).write.mode("overwrite").parquet(os.path.join(snap_dir, "deletes"))
    # term_stats is NOT copied: the snapshot's manifest parent entry is the
    # pointer, and catalog.read resolves non-chained tables to the nearest
    # ancestor that has them (per-term df stays as-built until compact(),
    # the Lucene deleted-docs-in-stats contract; a vocabulary-sized copy
    # per delete would be GBs of duplicate storage at web scale)

    committed = cat.committed_stats(spark)
    n_docs = int(committed["n_docs"]) - n_del
    total_len = int(committed["total_len"]) - len_sum
    avgdl = (total_len / n_docs) if n_docs else 0.0
    url_field = bool(committed.get("url_field") or False)
    _write_small_table(
        os.path.join(snap_dir, "stats"),
        {
            "n_docs": [n_docs],
            "total_len": [total_len],
            "avgdl": [float(avgdl)],
            "docs_dropped": [int(committed["docs_dropped"])],
            "import_id": ["delete_by_query"],
            "next_doc_id": [_next_doc_id(spark, cat, committed)],
            "shard_range": [int(committed.get("shard_range") or 0)],
            "positions": [bool(committed.get("positions") or False)],
            "url_field": [url_field],
            "url_total_len": [
                (int(committed.get("url_total_len") or 0) - del_url_len)
                if url_field else 0
            ],
            "url_n_docs": [
                (int(committed.get("url_n_docs") or 0) - del_url_n)
                if url_field else 0
            ],
            "stopwords": [committed.get("stopwords") or ""],
        },
        schema=STATS_PA_SCHEMA,
    )
    cat.commit(snapshot_id, [], parent=parent)
    return n_del
