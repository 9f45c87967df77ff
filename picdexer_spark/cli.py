"""CLI — the reference's command surface re-targeted at the Spark engine.

picdexer is driven as `picdexer <full|dropzone|setup> -c conf.json ...`
(reference: cmd/root.go:16-19, cmd/full.go:10-32, cmd/dropzone.go:14-29,
cmd/setup.go:9-19; JSON config cmd/conf.go:9-54). Same shape here:

    python -m picdexer_spark full     -c conf.json -d <pages dir> [-d ...] -i impID
    python -m picdexer_spark dropzone -c conf.json [-i impID] [--once]
    python -m picdexer_spark setup    -c conf.json
    python -m picdexer_spark search   -c conf.json -q "kuery string" [-k 10]
    python -m picdexer_spark compact  -c conf.json
    python -m picdexer_spark merge    -c conf.json [--max-segments 8] [--expire]
    python -m picdexer_spark stats    -c conf.json
    python -m picdexer_spark delete-by-query -c conf.json -q "kuery string"
    python -m picdexer_spark alias    -c conf.json <list|add|remove|swap>
                                      [--alias NAME] [--index DIR]

`index.dir` may name an ALIAS registered in `<parent>/aliases.json` —
every command resolves it (the ES <index-or-alias> endpoint contract),
so `alias swap` after a reindex re-points all of them atomically.

`full` ingests parquet pages dirs as an incremental (upsert-by-content)
build — re-running with the same import id is a no-op, the reference's
content-addressed idempotency (common.go:44-63). `dropzone` watches a drop
directory (fileWatcher.go:45-71 analogue via Structured Streaming);
`--once` = availableNow (drain and exit), otherwise the conf period
triggers. `setup` installs the dashboard views (setup.go:92-148 imports
kibana.ndjson; ours are SQL views) and prints them. `search`/`compact`/
`delete-by-query` expose the query surface ES served for the reference.

Config JSON (the cmd/conf.go analogue):

    {"loggingLevel": "WARN",
     "index": {"dir": "...", "shardRange": 65536, "blockSize": 1024,
               "storePositions": true, "stopwords": "_english_"},
     "spark": {"master": "local[8]", "shufflePartitions": 32},
     "dropzone": {"root": "...", "checkpoint": "...",
                  "period": "5 seconds", "maxSegments": 8}}

Exit codes mirror cmd/root.go:10-13: 0 ok, 1 configuration failure,
2 execution failure.

Run from the repo root (or with PYTHONPATH pointing at it); on a cluster,
ship the package via `spark-submit --py-files picdexer_spark.zip` — the
recipe verified in round 2 (BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

RET_OK = 0
RET_CONF_FAILURE = 1
RET_EXEC_FAILURE = 2


# the log4j level set setLogLevel accepts — the zerolog.ParseLevel
# analogue (cmd/common.go:9-19: an unparsable conf level is an error)
_LOG_LEVELS = {"ALL", "TRACE", "DEBUG", "INFO", "WARN", "ERROR",
               "FATAL", "OFF"}


def load_conf(path: str) -> dict:
    """cmd/conf.go::LoadConf analogue — any read/parse problem is a
    CONFIGURATION failure (exit 1), not an execution failure. The
    conf's `loggingLevel` (conf.go:10) is validated here so a bad
    level fails before any Spark work, as the reference's
    setLoggingLevel does before Run."""
    with open(path) as f:
        conf = json.load(f)
    if not isinstance(conf, dict) or "index" not in conf \
            or "dir" not in conf.get("index", {}):
        raise ValueError("conf must carry index.dir")
    lvl = conf.get("loggingLevel")
    if lvl is not None and str(lvl).upper() not in _LOG_LEVELS:
        raise ValueError(
            f"error while setting logging level ({lvl!r}): expected one "
            f"of {sorted(_LOG_LEVELS)}")
    if "stopwords" in conf.get("index", {}):
        # validate the analyzer config at LOAD time (like loggingLevel):
        # a non-token stopword is a configuration failure before any
        # Spark work, never a mid-build executor stack trace
        from picdexer_spark.functions.analysis import normalize_stopwords

        normalize_stopwords(conf["index"]["stopwords"])
    return conf


def _spark(conf: dict, app: str):
    from picdexer_spark.session import get_spark

    sc = conf.get("spark", {})
    spark = get_spark(
        f"picdexer-{app}",
        master=sc.get("master"),
        shuffle_partitions=sc.get("shufflePartitions"),
    )
    lvl = conf.get("loggingLevel")
    if lvl is not None:  # validated in load_conf; applied per command
        spark.sparkContext.setLogLevel(str(lvl).upper())
    return spark


def _index_dir(conf: dict) -> str:
    """Resolve conf's ``index.dir`` through the alias registry in its
    parent directory — every command then takes an <index-or-alias>, the
    ES endpoint contract. A name registered in ``<parent>/aliases.json``
    resolves to its target (alias wins over a same-named directory, loudly
    ES's own rule: alias/index name collisions are refused at alias-create
    time there, and here the registry is the authority); an unregistered
    name resolves to itself, so configs without aliases are untouched."""
    from picdexer_spark.sources.aliases import AliasRegistry

    d = conf["index"]["dir"]
    parent = os.path.dirname(os.path.abspath(d))
    return AliasRegistry(parent).resolve(os.path.basename(d))


def _index_cfg(conf: dict, import_id: str | None = None):
    from picdexer_spark.index.build import IndexConfig

    ic = conf.get("index", {})
    kw = {}
    if "shardRange" in ic:
        kw["shard_range"] = int(ic["shardRange"])
    if "blockSize" in ic:
        kw["block_size"] = int(ic["blockSize"])
    if "storePositions" in ic:
        kw["store_positions"] = bool(ic["storePositions"])
    if "stopwords" in ic:
        # the ES analysis.filter stop config: a list of analyzed terms
        # or the "_english_" shorthand; IndexConfig normalizes/validates
        # (a non-token stopword = conf error = exit 1, before Spark work)
        kw["stopwords"] = ic["stopwords"]
    if import_id:
        kw["import_id"] = import_id
    return IndexConfig(**kw)


def cmd_full(conf: dict, dirs: list[str], import_id: str) -> int:
    """One-shot ingest+index (cmd/full.go): each input dir of parquet
    pages becomes one idempotent incremental batch (source_id =
    importID/dir, the ImportID lineage of common/context.go:11-24)."""
    from picdexer_spark.streaming.incremental import build_incremental

    spark = _spark(conf, "full")
    idx = _index_dir(conf)
    n = 0
    for d in dirs:
        pages = spark.read.parquet(d)
        res = build_incremental(
            spark, pages, idx, _index_cfg(conf, import_id),
            source_id=f"{import_id}:{d}",
        )
        if res is not None:
            n += res.n_docs
            print(f"indexed {res.n_docs} docs from {d} "
                  f"(snapshot {res.snapshot_id})")
        else:
            print(f"skipped {d}: already committed for {import_id}")
    print(f"total docs indexed: {n}")
    return RET_OK


def cmd_dropzone(conf: dict, import_id: str, once: bool) -> int:
    """Streaming ingest from a drop directory (cmd/dropzone.go +
    fileWatcher.go). `once` drains what is present and exits
    (availableNow); otherwise the conf period drives processingTime."""
    from picdexer_spark.streaming.incremental import run_dropzone_stream

    dz = conf.get("dropzone", {})
    if "root" not in dz or "checkpoint" not in dz:
        print("conf error: dropzone.root and dropzone.checkpoint required",
              file=sys.stderr)
        return RET_CONF_FAILURE
    spark = _spark(conf, "dropzone")
    ms = dz.get("maxSegments")
    q = run_dropzone_stream(
        spark, dz["root"], _index_dir(conf),
        checkpoint_dir=dz["checkpoint"],
        cfg=_index_cfg(conf, import_id),
        available_now=once,
        processing_time=dz.get("period", "5 seconds"),
        max_segments=int(ms) if ms is not None else None,
    )
    if once:
        q.awaitTermination()
    else:  # run until interrupted, the reference's daemon mode
        try:
            q.awaitTermination()
        except KeyboardInterrupt:
            q.stop()
    return RET_OK


def cmd_setup(conf: dict) -> int:
    """DDL/setup (cmd/setup.go): install the dashboard views over the
    committed index and print what exists."""
    from picdexer_spark.sources.catalog import IndexCatalog

    spark = _spark(conf, "setup")
    views = IndexCatalog(_index_dir(conf)).install_dashboards(spark)
    for v in views:
        print(v)
    return RET_OK


def cmd_search(conf: dict, q: str, k: int,
               snapshot: str | None = None,
               simple: bool = False) -> int:
    """Query the committed index with a kuery string (the discover box;
    boolean/parenthesized queries, filters, prefix/fuzzy/phrase-slop all
    ride search_query_string). Prints doc_id<TAB>score<TAB>url.
    `snapshot` pins an older committed snapshot (time travel — the
    Iceberg snapshot-read the catalog chain provides). `simple` is the
    Kibana "KQL off" toggle: the query runs through the forgiving
    simple_query_string parser instead (never a syntax error — a bad
    query is exit 0 with fewer results, the ES contract)."""
    from pyspark.sql import functions as F

    from picdexer_spark.query.bm25 import SearchEngine

    spark = _spark(conf, "search")
    eng = SearchEngine(spark, _index_dir(conf), snapshot_id=snapshot)
    res = (eng.simple_query_string(q, k) if simple
           else eng.search_query_string(q, k))
    docs = eng.live_docs().select("doc_id", "url")
    for r in res.join(docs, "doc_id", "left") \
            .orderBy(F.desc("score"), F.asc("doc_id")).collect():
        print(f"{r['doc_id']}\t{r['score']:.4f}\t{r['url']}")
    return RET_OK


def cmd_compact(conf: dict) -> int:
    from picdexer_spark.streaming.incremental import compact

    spark = _spark(conf, "compact")
    res = compact(spark, _index_dir(conf))
    print(f"compacted to snapshot {res.snapshot_id} ({res.n_docs} docs)")
    return RET_OK


def cmd_merge(conf: dict, max_segments: int, expire: bool) -> int:
    """Physical segment merge (streaming/incremental.py::merge_chain):
    fold the oldest snapshots into one, row-identical — the maintenance
    step between appends and a full `compact`."""
    from picdexer_spark.streaming.incremental import merge_chain

    spark = _spark(conf, "merge")
    merged = merge_chain(spark, _index_dir(conf),
                         max_segments=max_segments, expire=expire)
    if merged is None:
        print(f"chain already <= {max_segments} segments; nothing to do")
    else:
        print(f"merged chain tail into snapshot {merged}"
              + (" (expired folded snapshots)" if expire else ""))
    return RET_OK


def cmd_stats(conf: dict) -> int:
    """ES `_cat/indices` / `_stats` at the CLI: one JSON line of the
    current snapshot's operational summary (metadata-sized reads only)."""
    from picdexer_spark.query.bm25 import SearchEngine

    spark = _spark(conf, "stats")
    eng = SearchEngine(spark, _index_dir(conf))
    print(json.dumps(eng.index_stats(), sort_keys=True))
    return RET_OK


def cmd_delete_by_query(conf: dict, q: str) -> int:
    from picdexer_spark.query.parser import parse_kuery
    from picdexer_spark.streaming.incremental import delete_by_query

    spark = _spark(conf, "delete-by-query")
    terms, mode, filters = parse_kuery(q)
    n = delete_by_query(spark, _index_dir(conf), terms, mode, filters)
    print(f"deleted {n} docs")
    return RET_OK


def cmd_alias(conf: dict, action: str, alias: str | None,
              index: str | None) -> int:
    """ES ``_aliases`` at the CLI (no Spark session — pure metadata).
    The registry lives beside the conf's index dir (``aliases.json`` in
    its parent), so `swap` after a reindex re-points the name the conf
    already uses — the zero-downtime promotion."""
    from picdexer_spark.sources.aliases import AliasRegistry

    root = os.path.dirname(os.path.abspath(conf["index"]["dir"]))
    reg = AliasRegistry(root)
    if action == "list":
        for a, idx in sorted(reg.read().items()):
            print(f"{a}\t{idx}")
        return RET_OK
    if not alias:
        print("alias error: --alias required", file=sys.stderr)
        return RET_CONF_FAILURE
    if action in ("add", "swap") and not index:
        # usage error -> exit 1 like the missing --alias case, not the
        # generic execution-failure 2 the registry's ValueError would hit
        print(f"alias error: {action} requires --index", file=sys.stderr)
        return RET_CONF_FAILURE
    if action == "add":
        reg.update([{"add": {"alias": alias, "index": index}}])
    elif action == "remove":
        reg.update([{"remove": {"alias": alias}}])
    elif action == "swap":
        reg.swap(alias, index)
    else:
        raise AssertionError(action)
    print(f"{action} {alias}" + (f" -> {index}" if index else ""))
    return RET_OK


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="picdexer_spark", description="Picture/page metadata indexer "
        "(PySpark engine; command surface mirrors the reference CLI)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    def with_conf(p):
        p.add_argument("-c", "--conf", required=True,
                       help="JSON configuration file")
        return p

    p = with_conf(sub.add_parser("full", help="batch ingest + index"))
    p.add_argument("-d", "--dir", action="append", required=True,
                   help="parquet pages directory (repeatable)")
    p.add_argument("-i", "--impId", default="import-0",
                   help="import identifier (lineage)")

    p = with_conf(sub.add_parser("dropzone", help="streaming ingest"))
    p.add_argument("-i", "--impId", default="dropzone")
    p.add_argument("--once", action="store_true",
                   help="drain available input and exit (availableNow)")

    with_conf(sub.add_parser("setup", help="install dashboard views"))

    p = with_conf(sub.add_parser("search", help="kuery search"))
    p.add_argument("-q", "--query", required=True)
    p.add_argument("-k", type=int, default=10)
    p.add_argument("--snapshot", default=None,
                   help="pin an older committed snapshot (time travel)")
    p.add_argument("--simple", action="store_true",
                   help="forgiving simple_query_string parser "
                        "(the Kibana KQL-off toggle; never a syntax "
                        "error)")

    with_conf(sub.add_parser("compact", help="rewrite live corpus fresh"))

    p = with_conf(sub.add_parser(
        "merge", help="fold oldest snapshots into one (segment merge)"))
    p.add_argument("--max-segments", type=int, default=8)
    p.add_argument("--expire", action="store_true",
                   help="drop folded snapshots from manifest and disk")

    with_conf(sub.add_parser("stats",
                             help="index stats summary (_cat/_stats)"))

    p = with_conf(sub.add_parser("delete-by-query",
                                 help="tombstone matching docs"))
    p.add_argument("-q", "--query", required=True)

    p = with_conf(sub.add_parser(
        "alias", help="manage index aliases (_aliases; atomic swap)"))
    p.add_argument("action", choices=("list", "add", "remove", "swap"))
    p.add_argument("--alias", default=None, help="alias name")
    p.add_argument("--index", default=None,
                   help="target index dir (name under the registry root "
                        "or absolute path)")
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    try:
        conf = load_conf(args.conf)
    except (OSError, ValueError, json.JSONDecodeError) as e:
        print(f"configuration error: {e}", file=sys.stderr)
        return RET_CONF_FAILURE
    try:
        if args.cmd == "full":
            return cmd_full(conf, args.dir, args.impId)
        if args.cmd == "dropzone":
            return cmd_dropzone(conf, args.impId, args.once)
        if args.cmd == "setup":
            return cmd_setup(conf)
        if args.cmd == "search":
            return cmd_search(conf, args.query, args.k, args.snapshot,
                              simple=args.simple)
        if args.cmd == "compact":
            return cmd_compact(conf)
        if args.cmd == "merge":
            return cmd_merge(conf, args.max_segments, args.expire)
        if args.cmd == "stats":
            return cmd_stats(conf)
        if args.cmd == "delete-by-query":
            return cmd_delete_by_query(conf, args.query)
        if args.cmd == "alias":
            return cmd_alias(conf, args.action, args.alias, args.index)
        raise AssertionError(args.cmd)
    except Exception as e:  # execution failure, reference retExecFailure
        print(f"execution error: {e}", file=sys.stderr)
        return RET_EXEC_FAILURE
