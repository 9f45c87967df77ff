"""Index build: pages -> docs / postings / term_stats / stats / metrics / lineage.

The Spark re-expression of the reference's concurrent dataflow
(browse -> dispatch -> extract -> convert -> bulk-push, reference:
cmd/assemble.go:98-162) fused with the index build its ES deployment performs:

  stage A  extract     mapInPandas (Arrow) html->text, byte-identical per url
                       (analogue of the exiftool stage, metadata.go:92-157);
                       failed rows dropped + counted, not fatal
                       (metadata.go:107-112)
  stage B  identity    dense doc_id = global rank of url (content-addressed,
                       idempotent identity — analogue of md5-content FileID,
                       common.go:44-63): ONE range exchange on url + a
                       counting pass, then a zero-shuffle order-preserving
                       mapInPandas adds partition offsets; the same counting
                       pass yields lineage per input file and the dropped-row
                       total. Docs come out doc_id-ordered and are written
                       without further exchange.
  stage C  tokenize    JVM-side split tokenizer -> array<string> per doc
                       (whole-stage codegen; no explode, no sort, NO
                       exchange — one row stays one document)
  stage D  postings    map-side partial encode in Arrow (dictionary-encode
                       tokens to int codes, numpy (code, doc) sort,
                       run-length tf + delta+varint per chunk-local
                       (term, shard) run), then ONE hash exchange on
                       (term, salt) carrying the COMPRESSED partial runs
                       (~index-sized, not token-stream-sized),
                       then a reducer-side merge/re-block -> BLOCK_SIZE
                       blocks with block-max metadata, parquet bloom filter
                       on term for query pruning. salt = doc_id div
                       shard_range: EXPLICIT SALTING of head terms — Zipf
                       head terms ("the") split into bounded doc-range
                       sub-groups so no reducer sees more than shard_range
                       postings for one term; because salts are contiguous
                       doc ranges, the global posting list is the
                       concatenation of salted runs and every (term, shard)
                       group stays sorted by doc_id
  stage E  commit      write all tables into a new snapshot dir, atomically
                       advance MANIFEST (resumable; Iceberg-snapshot
                       semantics, see sources/catalog.py)

Scale notes (100 TB / 10^12 docs): exactly TWO full-corpus shuffles — the
url range exchange for identity (one-time) and the (term, salt) exchange
whose volume is the varint-compressed partial posting runs (roughly the
final index size — the raw token stream never crosses the wire). shard_range
bounds per-group memory at O(shard_range * bytes/posting); head-term skew is
defused by construction; everything else is metadata-sized.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from picdexer_spark.functions.extract import extract_text_col
from picdexer_spark.functions.analysis import (
    kept_len_col,
    stopped_tokens_col,
)
from picdexer_spark.functions.tokenize import tokens_col
from picdexer_spark.index.codec import (
    BLOCK_SIZE,
    encode_concat,
    segmented_delta_decode,
    varint_decode,
)
from picdexer_spark.index.termdict import ROW_GROUP_BYTES, write_term_stats
from picdexer_spark.sources.catalog import (
    POSTINGS_SCHEMA,
    URL_FIELD_NS,
    IndexCatalog,
)


@dataclass
class IndexConfig:
    """Build knobs. Defaults sized for local[32] test scale; at cluster scale
    shard_range ~ 2**20 (1M docs/shard -> 10^6 shards at 10^12 docs) keeps
    per-group memory bounded while bounding tail-term fragmentation."""

    shard_range: int = 1 << 20
    block_size: int = BLOCK_SIZE
    import_id: str = "import-0"
    id_offset: int = 0  # starting doc_id (incremental builds append)
    #: store token positions in the posting blocks (the Lucene proximity
    #: data) — enables phrase queries; costs extra shuffle volume + index
    #: bytes (roughly the corpus token count in varints), so it is opt-in
    store_positions: bool = False
    #: index the `url` column as a SECOND scored text field (the ES
    #: multi-field mapping: every string field is `text` + `.keyword`,
    #: reference internal/setup/assets/picdexer.json:67-93). Url tokens
    #: ride the SAME posting pipeline namespaced `\x1furl\x1f<token>`
    #: (the \x1f sentinel is outside the analyzer charset, so no user
    #: term or prefix can collide) with the url token count as their dl,
    #: giving the field its own tf/df/length norm — Lucene's per-field
    #: statistics — at ~2% extra build cost (urls are ~2-5 tokens vs
    #: ~200 content tokens). Enables SearchEngine.search(field="url")
    #: and multi_match.
    index_url_field: bool = True
    #: index-time STOP FILTER for the content field (Lucene StopFilter
    #: semantics: position gaps preserved, norms count kept tokens only
    #: — functions/analysis.py). Accepts an iterable of analyzed terms or
    #: the ES '_english_' shorthand; normalized to a sorted tuple. The
    #: set is persisted in the snapshot's analyzer.json — queries and
    #: incremental appends MUST analyze with the same set (SearchEngine
    #: and the incremental path read it back). The url field is never
    #: stop-filtered (urls carry no stopwords; pinned).
    stopwords: tuple = ()
    extra: dict = field(default_factory=dict)

    def __post_init__(self):
        from picdexer_spark.functions.analysis import normalize_stopwords

        self.stopwords = normalize_stopwords(self.stopwords)


@dataclass
class BuildResult:
    snapshot_id: str
    n_docs: int
    n_postings_rows: int
    docs_dropped: int
    phase_secs: dict = field(default_factory=dict)


class _PhaseTimer:
    """Per-phase wall clock, printed when PICDEXER_BUILD_TIMING=1."""

    def __init__(self):
        import time as _t

        self._t = _t
        self.last = _t.time()
        self.secs: dict[str, float] = {}
        self.verbose = os.environ.get("PICDEXER_BUILD_TIMING") == "1"

    def mark(self, phase: str) -> None:
        now = self._t.time()
        self.secs[phase] = round(now - self.last, 2)
        if self.verbose:
            print(f"[build] {phase}: {self.secs[phase]:.1f}s", flush=True)
        self.last = now


#: target INPUT bytes per reduce partition for the build's exchanges. The
#: round-2..6 shape used the session's spark.sql.shuffle.partitions (bench:
#: 4x cores) for every exchange regardless of corpus size — at small corpora
#: that is pure task-launch + tiny-file overhead (measured: a 10k-doc build
#: dropped 5.0 s -> 2.0 s going 128 -> 8 reduce partitions), and the written
#: tables came out as 128 KB-sized files whose per-file footer/bloom
#: overhead dominated every query scan. 4 MB of INPUT per partition keeps
#: partitions ~1-2 MB of compressed postings at this corpus shape; the
#: session's shuffle_partitions stays the UPPER bound, so large corpora and
#: low-core probes behave exactly as before (guide §2: derive partitioning
#: from input size, never a constant tuned to one scale).
_TARGET_INPUT_BYTES_PER_PARTITION = 4 << 20

#: input size above which assign_doc_ids switches to the cache-free layout
#: (driver-sampled boundaries + hash-preimage routing) instead of the
#: pre-cached range exchange — see the partitioning comment there.
#: Override: PICDEXER_CACHE_FREE_ASSIGN_MIN_BYTES (0 forces it on).
_CACHE_FREE_ASSIGN_MIN_BYTES = int(os.environ.get(
    "PICDEXER_CACHE_FREE_ASSIGN_MIN_BYTES", str(256 << 20)
))


def _input_size_bytes(df: DataFrame) -> int | None:
    """Best-effort driver-side input size of a file-backed DataFrame (the
    catalog layout is POSIX-visible by design — see sources/catalog.py).
    None when the plan is not file-backed (tests' inline frames)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        p = f[7:] if f.startswith("file://") else f
        if f.startswith("file:") and not f.startswith("file://"):
            p = f[5:]
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def build_partitions(spark: SparkSession, pages: DataFrame) -> int:
    """Scale-adaptive reduce-partition count for the build's two full-data
    exchanges: ceil(input_bytes / 4 MB), floored at 1, capped at the
    session's spark.sql.shuffle.partitions (explicit user sizing stays the
    ceiling — the 2-core scaling probe and cluster configs keep their
    partitioning). Non-file inputs fall back to the session value
    (byte-identical to the pre-round-7 behavior)."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    override = os.environ.get("PICDEXER_BUILD_PARTITIONS")
    if override:
        return max(1, int(override))
    size = _input_size_bytes(pages)
    if size is None:
        return cap
    want = -(-size // _TARGET_INPUT_BYTES_PER_PARTITION)  # ceil
    return max(1, min(cap, want))


#: hash-preimage cache for _hash_preimages (keyed on partition count only —
#: Spark's Murmur3 column hash is seed-fixed and session-independent)
_HASH_PERM_CACHE: dict[int, list[int]] = {}


def _hash_preimages(spark: SparkSession, n: int) -> list[int] | None:
    """x[p] (p = 0..n-1) such that Spark's own hash routing
    ``pmod(hash(bigint x[p]), n) == p`` — computed BY Spark itself (one tiny
    local-range job over 64*n candidates, cached per partition count).

    ``repartition(n, col)`` places a row in partition pmod(murmur3(col), n);
    tagging url-range interval i with the constant x[i] therefore lands
    interval i exactly in partition i — RangePartitioning's 1:1 ordered
    layout without RangePartitioner's sampling job (which executes the
    ENTIRE child plan once more just to pick boundaries). Asking Spark for
    the mapping rather than re-implementing Murmur3 driver-side means a
    hash-implementation drift can only cost a fallback, never a silently
    scrambled layout. Returns None when 64*n candidates miss a partition
    (probability ~n*e^-64 — the caller then takes the legacy range path)."""
    got = _HASH_PERM_CACHE.get(n)
    if got is not None:
        return got
    rows = spark.range(0, 64 * n).select(
        F.col("id"), F.pmod(F.hash("id"), F.lit(n)).alias("p")
    ).collect()
    xs: dict[int, int] = {}
    for r in rows:
        xs.setdefault(int(r["p"]), int(r["id"]))
    if len(xs) < n:
        return None
    out = [xs[p] for p in range(n)]
    _HASH_PERM_CACHE[n] = out
    return out


def _sample_url_boundaries(
    df: DataFrame, url_col: str, n_parts: int, per_part: int = 128
) -> list | None:
    """Range boundaries for `n_parts` url intervals from ONE cheap job: the
    bottom-(128*n_parts) rows by xxhash64(url) are a uniform deterministic
    sample of the url population (hash order is uniform; ties broken by url
    so retries collect the identical set), collected as a TakeOrdered over
    the url column ONLY — column pruning strips the extract expressions, so
    unlike RangePartitioner's reservoir pass this never runs the heavy
    upstream. Boundary QUALITY only affects partition balance, never
    correctness (doc ids follow the per-partition counts wherever rows
    land). Returns None on an empty/all-null url sample."""
    rows = (
        df.select(F.col(url_col).alias("_u"))
        .where(F.col(url_col).isNotNull())
        .orderBy(F.xxhash64("_u"), F.col("_u"))
        .limit(per_part * n_parts)
        .collect()
    )
    urls = sorted(r["_u"] for r in rows)
    if not urls:
        return None
    bnds: list = []
    for i in range(1, n_parts):
        b = urls[(i * len(urls)) // n_parts]
        if not bnds or b > bnds[-1]:
            bnds.append(b)
    return bnds or None


def _bucket_key_expr(url_col: str, bnds: list, xs: list[int]):
    """Balanced binary-search WHEN-tree mapping a url to its interval's
    hash-preimage constant (log2(n) string comparisons per row, vs n for a
    flat scan of the boundary array). Interval i (i>=1) holds urls in
    [bnds[i-1], bnds[i]); comparisons use Spark's own string ordering
    (UTF8String byte order — the same comparator sortWithinPartitions
    applies), so bucketing is monotone in the sort order by construction.
    NULL urls fail every >= probe and land in interval 0, where the
    nulls-first sort places them — byte-identical to the range layout."""
    def tree(lo: int, hi: int):
        if lo == hi:
            # bigint, matching the preimage probe's long ids — Murmur3
            # hashes int and long differently, so the literal's TYPE is
            # part of the routing contract
            return F.lit(xs[lo]).cast("bigint")
        mid = (lo + hi + 1) // 2
        return (
            F.when(F.col(url_col) >= F.lit(bnds[mid - 1]), tree(mid, hi))
            .otherwise(tree(lo, mid - 1))
        )
    return tree(0, len(bnds))


def _write_small_table(path: str, columns: dict, schema: pa.Schema) -> None:
    """Write a driver-side table as one parquet file (Spark-readable)."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pydict(columns, schema=schema),
        os.path.join(path, "part-00000.parquet"),
    )


# ---------------------------------------------------------------------------
# stage B: dense doc_id assignment (deterministic, scalable, resumable)
# ---------------------------------------------------------------------------
def assign_doc_ids(
    df: DataFrame, url_col: str = "url", offset: int = 0,
    ok_col: str | None = None, num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame, list, int, int]:
    """doc_id = `offset` + dense rank of url (lexicographic, UTF-8) over the
    KEPT rows (``ok_col`` true, when given); dropped rows never consume ids.

    Two-phase global rank: lay rows out so partition i holds the i-th url
    interval sorted within (a hash exchange on driver-sampled interval tags
    — see the partitioning comment below; degenerate inputs fall back to
    repartitionByRange), rank within partition, add per-partition offsets
    (computed from partition counts). The
    in-partition position comes from monotonically_increasing_id's low 33
    bits, which is safe HERE because it is evaluated after a deterministic
    sortWithinPartitions(url) that re-runs identically on task retry — the
    result is a pure function of the kept-url SET, so it is stable across
    retries and resumable (incremental builds pass offset = committed
    next_doc_id). Never a single-partition window.

    The single counting pass also harvests per-input-file row counts (the
    lineage table), the dropped-row total, and — when the input carries a
    `doc_len` column — the corpus length sum — no extra jobs.

    Returns (kept_df_with_doc_id, persisted_handle, src_counts, n_dropped,
    total_len); the caller unpersists the handle once downstream is
    materialized.
    """
    ok = F.col(ok_col) if ok_col else F.lit(True)
    # the counting pass doubles as the doc-stats pass: if a `doc_len` column
    # is present (the build adds it pre-exchange), its per-cell sum rides the
    # same metadata-sized collect, so total_len/avgdl need NO separate
    # post-write scan of the doc store — one fewer serial job barrier
    has_dl = "doc_len" in df.columns
    try:
        # per-input-file lineage; input_file_name() refuses plans reading
        # MORE than one source (e.g. compaction over a snapshot chain) —
        # those get a single synthetic lineage bucket instead
        with_src = df.withColumn(
            "_src", F.coalesce(F.input_file_name(), F.lit("inline"))
        )
    except Exception:
        with_src = df.withColumn("_src", F.lit("multi-source"))
    # ROUND 7: the range layout (interval i of the url order -> partition i,
    # sorted within) is built WITHOUT repartitionByRange. RangePartitioner
    # needs a sampling job that executes the ENTIRE child plan once more
    # (reservoir over every partition) just to pick boundaries; the previous
    # shape therefore persisted the extracted corpus (MEMORY_AND_DISK) so
    # that pass wouldn't re-run the extract — a full-corpus cache write+read
    # whose materialization alone cost ~0.7 s at 100k docs. Instead:
    #   1. boundaries come from one column-pruned TakeOrdered over the url
    #      column (bottom-k by xxhash64 = uniform deterministic sample; the
    #      extract expressions are pruned out of that job entirely);
    #   2. each row's interval is found with a log2(n) WHEN-tree and tagged
    #      with a hash-preimage constant x[i] chosen so Spark's own
    #      hash exchange sends interval i exactly to partition i
    #      (_hash_preimages — perfect 1:1 ordered layout, no skew from
    #      hash collisions);
    #   3. the single full-data exchange's map side now runs the extract
    #      exactly once, and NO pre-exchange cache exists at all.
    # doc_id = offset + dense url rank is partitioning-INDEPENDENT by
    # construction (offsets accumulate over sorted partition ids, positions
    # follow the per-partition url sort), so the partition count and
    # boundary choice are purely performance knobs. Degenerate inputs
    # (empty/all-null url sample, preimage miss) fall back to the legacy
    # range-exchange shape, bit-identical by the same argument.
    spark = df.sparkSession
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    # SIZE GATE: the cache-free layout costs two extra (tiny) driver jobs
    # per build — measured ~0.15-0.25 s of fixed latency, which exceeds the
    # pre-cache's write+read overhead on small corpora (where the cache fits
    # trivially in memory) and is dwarfed by it on large ones. Below the
    # threshold the legacy cached range exchange is the faster shape; above
    # it the cache-free path wins the materialization cost AND removes a
    # full-corpus memory footprint (the 100 TB hazard).
    size = _input_size_bytes(df)
    cache_free = size is not None and size >= _CACHE_FREE_ASSIGN_MIN_BYTES
    bnds = xs = pre = None
    if n_parts > 1 and cache_free:
        bnds = _sample_url_boundaries(df, url_col, n_parts)
        xs = _hash_preimages(spark, n_parts) if bnds else None
    tagged = with_src.withColumn("_ok", ok)
    if n_parts <= 1:
        part = tagged.repartition(1)
    elif bnds and xs:
        part = (
            tagged
            .withColumn("_bkey", _bucket_key_expr(url_col, bnds, xs))
            .repartition(n_parts, "_bkey")
            .drop("_bkey")
        )
    else:
        # legacy range exchange — needs the pre cache so RangePartitioner's
        # sampling job doesn't run the extract twice
        pre = tagged.persist(StorageLevel.MEMORY_AND_DISK)
        part = pre.repartitionByRange(n_parts, F.col(url_col))
    part = (
        part
        .sortWithinPartitions(url_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    aggs = [F.count("*").alias("cnt")]
    if has_dl:
        aggs.append(F.sum("doc_len").alias("len_sum"))
    cells = part.groupBy("_pid", "_src", "_ok").agg(*aggs).collect()
    if pre is not None:
        pre.unpersist()
    counts: dict[int, int] = {}
    src_counts: dict[str, int] = {}
    dropped = 0
    total_len = 0
    for r in cells:
        src_counts[r["_src"]] = src_counts.get(r["_src"], 0) + r["cnt"]
        if r["_ok"]:
            counts[r["_pid"]] = counts.get(r["_pid"], 0) + r["cnt"]
            if has_dl:
                total_len += r["len_sum"] or 0
        else:
            dropped += r["cnt"]
    offsets, acc = {}, offset
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    # ids are assigned with ZERO further shuffle and ZERO Python: `part` is
    # already range-partitioned + sorted by url, and filtering to the kept
    # rows preserves both, so within each partition
    # monotonically_increasing_id() yields consecutive row indices in its
    # low 33 bits (Spark's documented layout: partition index << 33 | row
    # position) in DETERMINISTIC url order — stable across task retries
    # because the sort re-runs identically. doc_id = per-partition offset
    # (broadcast-joined, metadata-sized) + row position. An earlier
    # formulation did this with an order-preserving mapInPandas; that paid
    # a full Arrow round-trip of the text-heavy corpus for what is a pure
    # integer projection.
    keep_cols = [
        f.name for f in part.schema.fields
        if f.name not in ("_pid", "_src", "_ok")
    ]
    spark = part.sparkSession
    offsets_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()] or [(0, offset)],
            "_pid int, _offset long",
        )
    )
    mid = F.monotonically_increasing_id()
    row_in_part = mid.bitwiseAND(F.lit((1 << 33) - 1))
    out = (
        part.filter(F.col("_ok"))
        .withColumn("_row", row_in_part)
        .join(offsets_df, "_pid")
        .select(*keep_cols, (F.col("_offset") + F.col("_row")).alias("doc_id"))
    )
    return out, part, sorted(src_counts.items()), dropped, total_len


# ---------------------------------------------------------------------------
# stage C+D: MAP-SIDE PARTIAL POSTING ENCODE -> compressed-block exchange ->
# merge/re-block.
#
# The round-2 shape shuffled the raw exploded token stream (one row per token
# occurrence, ~30-60 B serialized each) to co-locate (term, shard) groups —
# that exchange WAS the build (128 s of a 163 s 2-core build). Here the heavy
# work happens BEFORE any exchange, inside the input partition:
#
#   1. JVM tokenize only (codegen split+filter -> array<string> per doc) —
#      no explode, no sort, no exchange; one row stays one document;
#   2. a mapInArrow pass dictionary-encodes each ~10^4-doc Arrow batch's
#      tokens to int32 codes (C++), sorts (code, doc) in numpy, run-length
#      aggregates tf/positions, and varint-encodes each chunk-local
#      (term, shard) run as ONE partial row (delta+varint, ~2-4 B/posting)
#      — vectorized across runs (encode the whole chunk's values in one
#      numpy pass, slice the byte stream per run: codec.encode_concat);
#      token strings never materialize as Python objects;
#   3. the ONLY full-data exchange now carries those compressed partial
#      runs — roughly the final index size instead of the raw token stream
#      (~10x fewer rows, ~10x fewer bytes);
#   4. reducer-side, a second mapInPandas decodes each (term, shard) group's
#      partial runs in one vectorized pass, merges them by doc_id (docs are
#      partition-disjoint, so this is a concatenation-sort, never a
#      re-aggregation), and re-blocks at BLOCK_SIZE with block-max metadata
#      — the OUTPUT ROWS ARE BIT-IDENTICAL to the round-2 single-exchange
#      encoder's (same postings, same order, same chop, same codec), so
#      every rank-identity / salting-parity / oracle-hash contract holds
#      unchanged.
#
# NOT applyInPandas anywhere: tail terms make (term, shard) groups tiny and
# grouped-map pays an Arrow round-trip per group (measured 200 s+ for a
# 2k-doc corpus in round 1). Both passes are mapInPandas with the
# carry-the-trailing-group trick, and per-group Python work is O(1) slices.
# ---------------------------------------------------------------------------

#: partial (pre-exchange) posting-run row: one partition-local run of one
#: (term, shard). pos_deltas_enc holds ONLY the position deltas (per-posting
#: counts are the tfs — no separate lens stream needed until the final
#: pos_enc format is assembled reducer-side).
#: the stats table schema, shared by the three writers (full build,
#: incremental append patch, delete_by_query patch) so the columns can
#: never drift apart
STATS_PA_SCHEMA = pa.schema(
    [("n_docs", pa.int64()), ("total_len", pa.int64()),
     ("avgdl", pa.float64()), ("docs_dropped", pa.int64()),
     ("import_id", pa.string()), ("next_doc_id", pa.int64()),
     ("shard_range", pa.int64()), ("positions", pa.bool_()),
     ("url_field", pa.bool_()), ("url_total_len", pa.int64()),
     ("url_n_docs", pa.int64()), ("stopwords", pa.string())]
)

PARTIAL_SCHEMA = (
    "term string, shard_id long, first_doc long, n int,"
    " doc_ids_enc binary, tfs_enc binary, dls_enc binary,"
    " pos_deltas_enc binary"
)


def _carry_chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Re-chunk Arrow batches so every yielded frame contains only COMPLETE
    (term, shard_id) groups (the trailing group is held back and prepended
    to the next batch — it may continue there). Input must arrive sorted by
    (term, shard_id, ...)."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        if len(pdf) == 0:
            continue
        term = pdf["term"].to_numpy()
        shard = pdf["shard_id"].to_numpy(np.int64)
        tail_start = int(np.argmax((term == term[-1]) & (shard == shard[-1])))
        carry = pdf.iloc[tail_start:]
        head = pdf.iloc[:tail_start]
        if len(head):
            yield head
    if carry is not None and len(carry):
        yield carry


def _make_arrow_partial_encoder(shard_range: int, with_positions: bool):
    """mapInArrow factory: (doc_id, doc_len, tokens array<string>) rows ->
    encoded partial runs, never materializing a Python string per token.

    Why Arrow and not explode+sort+mapInPandas: at 2 cores the explode
    formulation spent the posting phase on a JVM Tungsten sort of ~10^8
    (term, doc) STRING rows plus the pandas conversion's 10^8 PyObject
    strings. Here the JVM does only the codegen tokenizer (no explode, no
    sort); each Arrow batch (~10^4 docs = ~2*10^6 tokens) is processed as
    one chunk: `dictionary_encode` maps tokens to int32 codes at C++ speed,
    the (code, doc) sort is a numpy lexsort on integers, and term strings
    surface only once per RUN (vocab-sized), not once per token. Chunks
    always hold whole documents (a row is a whole doc), so partial runs
    from different chunks never share a (term, doc) posting — the merge
    stage's concatenation-sort invariant holds.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = pa.schema([
        ("term", pa.string()), ("shard_id", pa.int64()),
        ("first_doc", pa.int64()), ("n", pa.int32()),
        ("doc_ids_enc", pa.binary()), ("tfs_enc", pa.binary()),
        ("dls_enc", pa.binary()), ("pos_deltas_enc", pa.binary()),
    ])

    def _encode_batch(rb: "pa.RecordBatch"):
        idx = {n: i for i, n in enumerate(rb.schema.names)}
        doc = rb.column(idx["doc_id"]).to_numpy(zero_copy_only=False)
        dl = rb.column(idx["doc_len"]).to_numpy(zero_copy_only=False)
        toks = rb.column(idx["tokens"])
        if len(doc) == 0:
            return None
        lens = pc.list_value_length(toks).fill_null(0) \
            .to_numpy(zero_copy_only=False).astype(np.int64)
        flat = pc.list_flatten(toks)
        total = len(flat)
        if total == 0:
            return None
        doc_rep = np.repeat(doc, lens)
        dl_rep = np.repeat(dl, lens)
        tok_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        pos = np.arange(total, dtype=np.int64) - np.repeat(tok_starts, lens)
        if flat.null_count:
            # stop filter: stopped slots arrive as NULL tokens — masked
            # HERE, after `pos` is assigned from the raw ordinals, so
            # position GAPS survive (Lucene StopFilter's position
            # increments; phrase queries never match across a stopword)
            valid = pc.is_valid(flat).to_numpy(zero_copy_only=False)
            flat = flat.drop_null()
            doc_rep, dl_rep, pos = doc_rep[valid], dl_rep[valid], pos[valid]
            total = len(flat)
            if total == 0:
                return None
        denc = pc.dictionary_encode(flat)
        codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        vocab = denc.dictionary.to_numpy(zero_copy_only=False)
        order = np.lexsort((doc_rep, codes))  # by code, then doc; stable
        c = codes[order]
        d = doc_rep[order]
        dd = dl_rep[order]
        # posting boundaries: (code, doc) change points
        new_post = np.empty(total, bool)
        new_post[0] = True
        new_post[1:] = (d[1:] != d[:-1]) | (c[1:] != c[:-1])
        p_starts = np.flatnonzero(new_post)
        m = p_starts.size
        tf = np.diff(np.append(p_starts, total)).astype(np.uint64)
        p_doc = d[p_starts].astype(np.uint64)
        p_dl = dd[p_starts].astype(np.uint64)
        p_code = c[p_starts]
        p_shard = d[p_starts] // shard_range
        new_run = np.empty(m, bool)
        new_run[0] = True
        new_run[1:] = (p_shard[1:] != p_shard[:-1]) | (p_code[1:] != p_code[:-1])
        r_starts = np.flatnonzero(new_run)
        r_counts = np.diff(np.append(r_starts, m))
        dlt = np.empty(m, np.uint64)
        if m > 1:
            dlt[1:] = p_doc[1:] - p_doc[:-1] - np.uint64(1)
        dlt[r_starts] = np.uint64(0)
        if with_positions:
            p = pos[order]
            e = np.empty(total, np.uint64)
            if total > 1:
                e[1:] = (p[1:] - p[:-1] - 1).astype(np.uint64)
            e[p_starts] = p[p_starts].astype(np.uint64)
            tok_per_run = np.add.reduceat(tf.astype(np.int64), r_starts)
            pos_col = pa.array(encode_concat(e, tok_per_run), pa.binary())
        else:
            pos_col = pa.nulls(int(r_counts.size), pa.binary())
        return pa.RecordBatch.from_arrays(
            [
                pa.array(vocab[p_code[r_starts]], pa.string()),
                pa.array(p_shard[r_starts], pa.int64()),
                pa.array(p_doc[r_starts].astype(np.int64), pa.int64()),
                pa.array(r_counts.astype(np.int32), pa.int32()),
                pa.array(encode_concat(dlt, r_counts), pa.binary()),
                pa.array(encode_concat(tf - np.uint64(1), r_counts),
                         pa.binary()),
                pa.array(encode_concat(p_dl, r_counts), pa.binary()),
                pos_col,
            ],
            schema=out_schema,
        )

    def encode_partition(batches):
        for rb in batches:
            out = _encode_batch(rb)
            if out is not None:
                yield out

    return encode_partition


def _make_merge_encoder(block_size: int, with_positions: bool):
    """mapInPandas factory: sorted (term, shard_id, first_doc) partial runs
    -> final BLOCK_SIZE posting blocks with block-max metadata, bit-identical
    to encoding the group's full sorted run in one piece."""

    def _merge_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        nparts = len(pdf)
        term = pdf["term"].to_numpy()
        shard = pdf["shard_id"].to_numpy(np.int64)
        firsts = pdf["first_doc"].to_numpy(np.int64)
        counts = pdf["n"].to_numpy(np.int64)  # postings per partial run
        # one vectorized decode over ALL partial runs in the chunk
        ids = segmented_delta_decode(
            varint_decode(b"".join(pdf["doc_ids_enc"])), counts, firsts
        )
        tfs = varint_decode(b"".join(pdf["tfs_enc"])) + np.uint64(1)
        dls = varint_decode(b"".join(pdf["dls_enc"]))
        total = int(ids.size)
        # group (term, shard) index per partial row -> per posting
        new_grp = np.empty(nparts, bool)
        new_grp[0] = True
        new_grp[1:] = (shard[1:] != shard[:-1]) | (term[1:] != term[:-1])
        grp_of_part = np.cumsum(new_grp) - 1
        g_first_part = np.flatnonzero(new_grp)
        grp_of_post = np.repeat(grp_of_part, counts)
        # merge partial runs: docs are partition-disjoint so a per-group
        # sort by doc_id IS the posting-list merge (no re-aggregation)
        order = np.lexsort((ids, grp_of_post))
        ids_s = ids[order]
        tfs_s = tfs[order]
        dls_s = dls[order]
        grp_s = grp_of_post[order]
        if with_positions:
            flat = segmented_delta_decode(
                varint_decode(b"".join(pdf["pos_deltas_enc"])),
                tfs.astype(np.int64), np.zeros(total, np.int64),
            )
            # permute token slices to the sorted posting order
            tok_start = np.concatenate(([0], np.cumsum(tfs)[:-1])).astype(np.int64)
            sel_tf = tfs_s.astype(np.int64)
            sel_start = np.concatenate(([0], np.cumsum(sel_tf)[:-1]))
            ntok = int(sel_tf.sum())
            gather = (
                np.repeat(tok_start[order], sel_tf)
                + np.arange(ntok) - np.repeat(sel_start, sel_tf)
            )
            flat_s = flat[gather]
        # chop each group into BLOCK_SIZE blocks
        g_counts = np.bincount(grp_s, minlength=int(grp_of_part[-1]) + 1)
        g_starts = np.concatenate(([0], np.cumsum(g_counts)[:-1]))
        pidx = np.arange(total) - np.repeat(g_starts, g_counts)
        new_block = (pidx % block_size) == 0
        b_starts = np.flatnonzero(new_block)
        b_counts = np.diff(np.append(b_starts, total))
        b_ends = b_starts + b_counts
        bg = grp_s[b_starts]
        d2 = np.empty(total, np.uint64)
        if total > 1:
            d2[1:] = ids_s[1:] - ids_s[:-1] - np.uint64(1)
        d2[b_starts] = np.uint64(0)
        out = {
            "term": term[g_first_part][bg],
            "shard_id": shard[g_first_part][bg],
            "block_no": (pidx[b_starts] // block_size).astype(np.int32),
            "first_doc": ids_s[b_starts].astype(np.int64),
            "last_doc": ids_s[b_ends - 1].astype(np.int64),
            "n": b_counts.astype(np.int32),
            "max_tf": np.maximum.reduceat(tfs_s, b_starts).astype(np.int64),
            "min_dl": np.minimum.reduceat(dls_s, b_starts).astype(np.int64),
            "sum_tf": np.add.reduceat(tfs_s.astype(np.int64), b_starts),
            "doc_ids_enc": encode_concat(d2, b_counts),
            "tfs_enc": encode_concat(tfs_s - np.uint64(1), b_counts),
            "dls_enc": encode_concat(dls_s, b_counts),
        }
        if with_positions:
            # final pos_enc format (codec.encode_positions):
            # varint(per-posting counts) ++ varint(deltas, per-posting reset)
            lens_bytes = encode_concat(tfs_s, b_counts)
            f2 = np.empty(ntok, np.uint64)
            if ntok > 1:
                f2[1:] = flat_s[1:] - flat_s[:-1] - np.uint64(1)
            sel_p_starts = np.concatenate(([0], np.cumsum(sel_tf)[:-1]))
            f2[sel_p_starts] = flat_s[sel_p_starts]
            tok_per_block = out["sum_tf"]
            delta_bytes = encode_concat(f2, tok_per_block)
            out["pos_enc"] = [a + b for a, b in zip(lens_bytes, delta_bytes)]
        else:
            out["pos_enc"] = [None] * int(b_counts.size)
        return pd.DataFrame(out)

    def merge_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for chunk in _carry_chunks(batches):
            yield _merge_chunk(chunk)

    return merge_partition


def encode_postings(docs: DataFrame, cfg: IndexConfig,
                    num_partitions: int | None = None) -> DataFrame:
    """Stages C+D: docs -> final posting blocks with ONE exchange whose
    volume is the compressed partial runs (~index-sized), per the pipeline
    comment above. The map side ships token ARRAYS (one row per doc)
    straight into the Arrow partial encoder — no explode, no JVM sort, no
    per-token Python objects."""
    # stop filter: stopped slots become NULL (ordinals = Lucene positions
    # with gaps preserved); the Arrow encoder masks them. doc_len is
    # already the KEPT-token count (computed in build_index via
    # kept_len_col — the Lucene norm contract).
    content_tok = (
        stopped_tokens_col("text", cfg.stopwords) if cfg.stopwords
        else tokens_col("text")
    )
    toks = docs.select(
        "doc_id", "doc_len", content_tok.alias("tokens")
    )
    if cfg.index_url_field:
        # url-FIELD postings (the ES multi-field mapping made scored):
        # the url token stream rides the SAME partial encode and the
        # SAME single exchange — terms namespaced `\x1furl\x1f<tok>`,
        # dl = the url token count (per-field length norm, Lucene
        # per-field statistics), positions = url token ordinals. The
        # union adds no exchange and the url runs are ~2% of the posting
        # bytes. The WRITE then splits the two fields into separate
        # table directories (build_index partitionBy) — web urls carry
        # near-unique id tokens, so a url dictionary folded into the
        # content table doubled the block-row count and cost
        # content-term queries a measured ~20% in scan-past overhead.
        utok = tokens_col("url")
        utoks = docs.select(
            "doc_id",
            F.size(utok).cast("long").alias("doc_len"),
            F.transform(
                utok, lambda t: F.concat(F.lit(URL_FIELD_NS), t)
            ).alias("tokens"),
        ).filter(F.size(utok) > 0)
        toks = toks.unionByName(utoks)
    partials = toks.mapInArrow(
        _make_arrow_partial_encoder(cfg.shard_range, cfg.store_positions),
        PARTIAL_SCHEMA,
    )
    # scale-adaptive exchange width (posting rows are (term, shard)-complete
    # in any partitioning — block content is partition-count-independent)
    rep_args = ([num_partitions] if num_partitions else []) + \
        ["term", "shard_id"]
    return (
        partials.repartition(*rep_args)
        .sortWithinPartitions("term", "shard_id", "first_doc")
        .mapInPandas(
            _make_merge_encoder(cfg.block_size, cfg.store_positions),
            POSTINGS_SCHEMA,
        )
    )


# ---------------------------------------------------------------------------
# the build
# ---------------------------------------------------------------------------
def extract_text(pages: DataFrame) -> DataFrame:
    """Stage A: fill `text` from `html` — ALL-JVM since round 3
    (functions/extract.py::extract_text_col, whole-stage codegen; the
    round-1/2 mapInPandas pass was the build's largest Python cost and
    this expression is its test-pinned byte-identical twin). Rows with
    html==null keep their incoming text (skip path); failed extraction
    -> text NULL, extract_ok false."""
    text = F.when(
        F.col("html").isNotNull(), extract_text_col(F.col("html"))
    ).otherwise(F.col("text"))
    return (
        pages.select("url", "warc_ts", "html", "text", "lang")
        .withColumn("text", text)
        .withColumn("extract_ok", F.col("text").isNotNull())
    )


def tf_stream(docs: DataFrame, shard_range: int | None = None,
              with_positions: bool = False) -> DataFrame:
    """Stage C: (term, doc_id, tf, dl[, positions]) — all JVM.

    With ``shard_range`` given, the token stream is hash-partitioned by
    (term, shard_id) ONCE and the tf aggregation runs on that partitioning:
    the group keys (term, shard_id, doc_id, dl) contain the partition keys,
    so Catalyst elides the aggregation's own exchange and the downstream
    encoder needs no further shuffle — the whole posting path has exactly
    ONE full-data exchange. (The two-exchange formulation — partial-agg,
    exchange on the full group key, re-exchange on (term, shard) — shuffled
    ~40% more rows: map-side combine only collapses repeats of a term
    WITHIN one document, avg tf ≈ 1.3, while the second exchange re-moved
    every distinct posting. Measured 21% faster at 8 cores.)
    """
    if with_positions:
        # posexplode: position = token ordinal in the analyzed stream (the
        # Lucene proximity data); positions aggregate to a sorted list per
        # posting — tf is its size, no separate count
        toks = docs.select(
            "doc_id", F.col("doc_len").alias("dl"),
            F.posexplode(tokens_col("text")).alias("pos", "term"),
        )
        aggs = [
            F.sort_array(F.collect_list("pos")).alias("positions"),
        ]
        post = lambda df: df.withColumn(  # noqa: E731
            "tf", F.size("positions").cast("long")
        )
    else:
        toks = docs.select(
            "doc_id", F.col("doc_len").alias("dl"),
            F.explode(tokens_col("text")).alias("term"),
        )
        aggs = [F.count("*").alias("tf")]
        post = lambda df: df  # noqa: E731
    if shard_range is None:
        return post(toks.groupBy("term", "doc_id", "dl").agg(*aggs))
    toks = toks.withColumn("shard_id", F.expr(f"doc_id div {shard_range}"))
    return post(
        toks.repartition("term", "shard_id")
        .groupBy("term", "shard_id", "doc_id", "dl")
        .agg(*aggs)
    )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    sources: list[str] | None = None,
    commit: bool = True,
) -> BuildResult:
    """Full batch build of a new snapshot from a `pages` DataFrame.

    With commit=False the snapshot dir is fully written but the manifest is
    NOT advanced — incremental builds patch in merged stats and commit with
    a parent pointer themselves (streaming/incremental.py), keeping the
    crash window atomic."""
    cfg = cfg or IndexConfig()
    cat = IndexCatalog(index_dir)
    snap = cat.new_snapshot_id()
    snap_dir = os.path.join(index_dir, "snapshots", snap)
    # the id is uncommitted by construction, but a crashed earlier writer
    # may have left an orphan dir under it: per-table mode("overwrite")
    # would replace only the tables THIS build writes, silently committing
    # any stale extras (e.g. a folded `deletes` from an aborted
    # merge_chain) — clear the whole dir first
    shutil.rmtree(snap_dir, ignore_errors=True)
    timer = _PhaseTimer()

    # A: extract (drop+count failed rows — reference drops & logs per-row
    # extract errors, metadata.go:107-112; sink errors abort the job, which
    # Spark gives us via task failure). doc_len is computed HERE, before the
    # range exchange, so the id-counting pass can harvest the corpus length
    # sum in the same metadata collect (no post-write doc-stats scan).
    extracted = extract_text(pages).drop("html").withColumn(
        "doc_len", kept_len_col("text", cfg.stopwords)
    )

    # scale-adaptive reduce width for the two full-data exchanges (and the
    # written tables' file counts) — derived from the INPUT size, capped at
    # the session's shuffle partitions (see build_partitions)
    n_parts = build_partitions(spark, pages)

    # B: identity + doc store (one counting pass also yields lineage counts,
    # the dropped-row total, and total_len)
    with_ids, _parted, src_counts, dropped, total_len = assign_doc_ids(
        extracted, offset=cfg.id_offset, ok_col="extract_ok",
        num_partitions=n_parts,
    )
    with_ids = with_ids.drop("extract_ok")
    timer.mark("extract+assign_ids")
    docs = with_ids.select(
        "doc_id",
        "url",
        "warc_ts",
        "lang",
        "doc_len",
        F.md5(F.col("text")).alias("text_md5"),
        "text",
    )

    # already doc_id-ordered (ids follow the url range/sort of the id pass)
    # -> write directly; parquet min/max on doc_id gives point-lookup
    # pruning. The posting build reads the WRITTEN parquet back (columnar,
    # pruned to doc_id/doc_len/text) rather than recomputing from the cache
    # — an overlapped-writes variant was tried and REVERTED: running the
    # doc write and posting build concurrently from the cache re-ran the id
    # projection per branch and was net slower at every core count.
    # 4 MB row groups (default 128 MB): with the adaptive partition count a
    # small corpus writes a handful of doc files, and parquet can only
    # split a scan at row-group boundaries — one giant row group per file
    # capped the posting encoder's read-back parallelism at the file count
    # (3 tasks for a 10k-doc corpus). 4 MB groups let the same files fan
    # out to ~1 task per 4 MB; large corpora are unaffected (their file
    # counts already exceed the core count).
    docs.write.mode("overwrite") \
        .option("parquet.block.size", str(4 << 20)) \
        .parquet(os.path.join(snap_dir, "docs"))
    docs_written = spark.read.parquet(os.path.join(snap_dir, "docs"))
    _parted.unpersist()
    timer.mark("docs_write")

    # C+D: map-side partial posting encode -> ONE exchange of compressed
    # partial runs -> merge/re-block (see the encode_postings pipeline
    # comment). Files come out sorted by (term, shard, doc_id) WITHIN each
    # hash partition, and a parquet BLOOM FILTER on `term` gives the query
    # path its `term IN (...)` row-group pruning instead of global range
    # layout. salt = doc-range shard defuses head-term skew.
    postings = encode_postings(docs_written, cfg, num_partitions=n_parts)
    # ONE write job, directory-partitioned by field: field=text/ IS the
    # `postings` table, field=url/ the `postings_url` table (catalog
    # table_path maps the names to the subdirectories). One exchange,
    # one job — and each field's query scan touches only its own files.
    field_col = (
        F.when(F.col("term").startswith(URL_FIELD_NS), F.lit("url"))
        .otherwise(F.lit("text"))
        if cfg.index_url_field else F.lit("text")
    )
    # term bloom filters are SIZE-GATED (round 7): files are written sorted
    # by (term, shard) within each hash partition, so row-group min/max on
    # `term` already narrows a term probe to <= 1 row group per file; the
    # bloom bitset only pays when files are large enough to hold MANY row
    # groups (its job is killing the one false-positive row group whose
    # range covers an absent term). At small corpora the per-query bitset
    # reads cost more than they prune — measured 0.111 s -> 0.068 s for a
    # 3-term scan on a 10k-doc index with bloom dropped. Gate on the
    # adaptive exchange width: >= 64 partitions ~ >= 256 MB of input, the
    # regime where files carry many row groups.
    # ROW_GROUP_BYTES row groups (the term_stats size): each file is
    # already sorted by (term, shard_id, first_doc), so the footers'
    # per-group term ranges are a terms index over the blocks — an
    # in-process top-k (query/local.py) reads only the groups that can
    # hold its terms, not the whole file (one 128 MB default group)
    pw = postings.withColumn("field", field_col) \
        .write.mode("overwrite").partitionBy("field") \
        .option("parquet.block.size", ROW_GROUP_BYTES)
    if n_parts >= 64:
        pw = (
            pw.option("parquet.bloom.filter.enabled#term", "true")
            .option("parquet.bloom.filter.expected.ndv#term", "100000")
        )
    pw.parquet(os.path.join(snap_dir, "postings"))
    # an EMPTY build (e.g. a delta batch that was pure redelivery) writes
    # no partition directories at all — fall back to an empty frame
    p_text = os.path.join(snap_dir, "postings", "field=text")
    postings_written = (
        spark.read.parquet(p_text) if os.path.isdir(p_text)
        else spark.createDataFrame([], POSTINGS_SCHEMA)
    )
    timer.mark("postings_write")

    # global doc stats came out of the id-counting pass (no doc-store scan);
    # per-shard doc counts are pure arithmetic: ids are dense over
    # [id_offset, id_offset + n_docs), so shard s holds the overlap of
    # [s*shard_range, (s+1)*shard_range) with that interval
    n_docs = sum(n for _, n in src_counts) - dropped
    avgdl = (total_len / n_docs) if n_docs else 0.0
    lo_shard = cfg.id_offset // cfg.shard_range
    hi_shard = (cfg.id_offset + n_docs - 1) // cfg.shard_range if n_docs else lo_shard - 1
    shard_doc_counts = {
        s: (
            min((s + 1) * cfg.shard_range, cfg.id_offset + n_docs)
            - max(s * cfg.shard_range, cfg.id_offset)
        )
        for s in range(lo_shard, hi_shard + 1)
    }

    # two independent metadata jobs over the (column-pruned) posting blocks:
    # the term_stats rollup WRITE and the per-shard metrics COLLECT. They
    # were the serial tail of the build; submit them concurrently — Spark's
    # FIFO scheduler interleaves their tasks, collapsing two job barriers
    # into one.
    from concurrent.futures import ThreadPoolExecutor

    def _term_stats_job():
        # df/cf roll up from posting-block METADATA — no second tokenize
        # pass, no decode: df = sum(n), cf = sum(sum_tf) per term. The
        # url-field blocks contribute their namespaced terms, so ONE
        # term_stats table serves both fields' df lookups.
        ts_src = postings_written
        p_url = os.path.join(snap_dir, "postings", "field=url")
        if cfg.index_url_field and os.path.isdir(p_url):
            ts_src = ts_src.unionByName(spark.read.parquet(p_url))
        write_term_stats(
            ts_src.groupBy("term")
            .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("cf"))
            # vocab-sized rollup: cap the file count (coalesce collapses
            # the agg's reduce stage, no extra exchange) so the engine's
            # driver-side term dictionary opens a handful of footers, not
            # one per session shuffle partition
            .coalesce(max(1, n_parts // 4)),
            os.path.join(snap_dir, "term_stats"),
        )

    def _shard_metrics_job():
        bytes_col = (
            F.length("doc_ids_enc") + F.length("tfs_enc") + F.length("dls_enc")
        )
        return (
            postings_written.groupBy("shard_id")
            .agg(
                F.sum("n").alias("postings_emitted"),
                F.sum(bytes_col).alias("bytes_compressed"),
                F.count("*").alias("block_rows"),
            )
            .collect()
        )

    def _url_stats_job():
        # per-field corpus statistics for the url field (docCount +
        # sumTotalTermFreq in Lucene terms): one column-pruned scan of
        # the written docs' url column, interleaved with the other two
        # metadata jobs
        r = docs_written.agg(
            F.coalesce(
                F.sum(F.size(tokens_col("url"))), F.lit(0)
            ).alias("ul"),
            F.count(
                F.when(F.size(tokens_col("url")) > 0, F.lit(1))
            ).alias("un"),
        ).first()
        return int(r["ul"]), int(r["un"])

    with ThreadPoolExecutor(max_workers=3) as pool:
        ts_future = pool.submit(_term_stats_job)
        url_future = (
            pool.submit(_url_stats_job) if cfg.index_url_field else None
        )
        shard_post_rows = _shard_metrics_job()
        ts_future.result()
        url_total_len, url_n_docs = (
            url_future.result() if url_future else (0, 0)
        )
    n_posting_rows = sum(r["block_rows"] for r in shard_post_rows)

    # lineage (ImportID tagging per input partition, reference:
    # internal/common/context.go:11-24) came for free out of the doc_id
    # counting pass: src_counts / dropped from assign_doc_ids
    timer.mark("term_stats+metrics_aggs")

    # tiny driver-side tables (shard/file cardinality, not data-sized):
    # written with pyarrow directly — a Spark job per 1-row table is pure
    # scheduler overhead on the build's serial path
    _write_small_table(
        os.path.join(snap_dir, "stats"),
        {
            "n_docs": [int(n_docs)],
            "total_len": [int(total_len)],
            "avgdl": [float(avgdl)],
            "docs_dropped": [int(dropped)],
            "import_id": [cfg.import_id],
            # id allocation high-water mark: with tombstoned upserts the
            # LIVE doc count (n_docs) no longer equals the highest id, so
            # incremental appends offset from here, never from n_docs
            "next_doc_id": [int(cfg.id_offset + n_docs)],
            "shard_range": [int(cfg.shard_range)],
            "positions": [bool(cfg.store_positions)],
            # per-field stats for the url text field (0/0/False when the
            # build skips url postings; engines read with .get so parent
            # snapshots from before round 5 stay readable)
            "url_field": [bool(cfg.index_url_field)],
            "url_total_len": [int(url_total_len)],
            "url_n_docs": [int(url_n_docs)],
            # the content field's stop set travels WITH the index (space-
            # joined — analyzed tokens can't contain spaces): queries and
            # incremental appends re-analyze with the same set, or dfs
            # and norms silently diverge
            "stopwords": [" ".join(cfg.stopwords)],
        },
        schema=STATS_PA_SCHEMA,
    )

    posts_by_shard = {r["shard_id"]: r for r in shard_post_rows}
    shard_ids = sorted(shard_doc_counts)
    _write_small_table(
        os.path.join(snap_dir, "metrics"),
        {
            "shard_id": [int(s) for s in shard_ids],
            "docs_indexed": [int(shard_doc_counts[s]) for s in shard_ids],
            "postings_emitted": [
                int(posts_by_shard[s]["postings_emitted"])
                if s in posts_by_shard else 0
                for s in shard_ids
            ],
            "bytes_compressed": [
                int(posts_by_shard[s]["bytes_compressed"])
                if s in posts_by_shard else 0
                for s in shard_ids
            ],
            "snapshot_id": [snap] * len(shard_ids),
        },
        schema=pa.schema(
            [("shard_id", pa.int64()), ("docs_indexed", pa.int64()),
             ("postings_emitted", pa.int64()), ("bytes_compressed", pa.int64()),
             ("snapshot_id", pa.string())]
        ),
    )

    _write_small_table(
        os.path.join(snap_dir, "lineage"),
        {
            "source_partition": [s for s, _ in src_counts],
            "n_rows": [int(n) for _, n in src_counts],
            "import_id": [cfg.import_id] * len(src_counts),
            "snapshot_id": [snap] * len(src_counts),
        },
        schema=pa.schema(
            [("source_partition", pa.string()), ("n_rows", pa.int64()),
             ("import_id", pa.string()), ("snapshot_id", pa.string())]
        ),
    )

    timer.mark("small_table_writes")
    if commit:
        cat.commit(snap, sources or [])
    return BuildResult(snap, int(n_docs), int(n_posting_rows), int(dropped),
                       timer.secs)
