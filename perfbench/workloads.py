"""The workloads: ``search`` (reads) and ``ingest`` (writes beside reads).

Each one runs a single client in a closed loop (the next call starts when
the previous one has returned) against ``local[N]`` Spark, N = the cores
this process may use. Every call is checked against :mod:`perfbench.oracle`
outside its timed span; a wrong or failed call counts in ``failed``.

End-to-end metrics (both workloads report all of them):

- ``setup_s``: session start + input generation + index build + warm-up;
- ``query_p50_ms``: median latency of single top-k queries;
- ``index_docs_per_s``: documents per second of index-write time (the one
  full build of ``search``'s set-up; the appends of ``ingest``);
- ``freshness_p50_s``: from the start of an index write to the return of
  the first query that finds a document of that write;
- ``index_bytes_per_text_byte``: bytes a write puts on disk per byte of
  text it indexes;
- ``mix_ops_per_s``: engine calls completed per second of the loop, over
  the workload's whole operation mix;
- ``peak_rss_mb``: summed VmHWM of the process tree (driver, JVM, Python
  daemon and workers).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from perfbench import inputs, procs
from perfbench.oracle import Reference, same_ranking

#: sizes, chosen so that a full measurement (4 + 22 runs per workload)
#: fits in 3,420 s on a 4-core machine (see perfbench/README.md)
SEARCH_DOCS, SEARCH_SHARD_RANGE, SEARCH_TAIL = 3000, 750, 0.42
INGEST_BASE_DOCS = 1000
INGEST_NEW, INGEST_UPSERTS, INGEST_REDELIVERIES = 150, 40, 20
INGEST_READERS = 9
MERGE_MAX_SEGMENTS = 1
#: single queries run in set-up: the first few of a session are slower
#: while the JVM compiles the query path
WARM_QUERIES = 6
DRIVER_MEM = "1g"

TOPK_CLASSES = ("head", "torso", "rare")
QUERY_CLASSES = (*TOPK_CLASSES, "qstring")
OP_KINDS = ("build", "engine", "topk", "qstring", "batch", "panel",
            "append", "merge")
INDEX_TABLES = ("docs", "postings_text", "postings_url", "term_stats",
                "meta")
LAYERS = ("session", "index", "streaming", "sources", "query", "operators",
          "parser", "wand", "codec", "op")
#: per-layer metrics taken from lists of samples (reported as medians)
SAMPLED = (("index.extract_assign_s", "s"), ("index.docs_write_s", "s"),
           ("index.postings_write_s", "s"), ("index.stats_s", "s"),
           ("index.postings_rows", "count"), ("session.start_s", "s"),
           ("streaming.append_s", "s"), ("streaming.merge_s", "s"),
           ("sources.chain_segments", "count"),
           ("sources.tombstones", "count"),
           ("query.engine_init_ms", "ms"), ("query.match_ids_ms", "ms"),
           ("operators.agg_ms", "ms"), ("query.batch_ms", "ms"),
           ("parser.parse_us", "us"),
           *((f"index.table_bytes.{t}", "bytes") for t in INDEX_TABLES),
           *((f"query.{w}_ms.{c}", "ms") for c in QUERY_CLASSES
             for w in ("plan", "exec")),
           *((f"query.postings_per_hit.{c}", "count") for c in TOPK_CLASSES),
           *((f"wand.kernel_ms.{c}", "ms") for c in TOPK_CLASSES),
           ("codec.decode_mpostings_per_s", "Mpostings/s"))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def table_bytes(snap_dir: str) -> dict[str, int]:
    """On-disk bytes of one snapshot, by table."""
    out = dict.fromkeys(INDEX_TABLES, 0)
    for name in os.listdir(snap_dir):
        p = os.path.join(snap_dir, name)
        if name == "postings":
            for sub in os.listdir(p):
                key = {"field=text": "postings_text",
                       "field=url": "postings_url"}.get(sub, "meta")
                out[key] += _dir_bytes(os.path.join(p, sub))
        else:
            out[name if name in out else "meta"] += _dir_bytes(p)
    return out


def _text_bytes(pages: pd.DataFrame) -> int:
    return int(pages["text"].str.len().sum())


class Run:
    """State of one benchmark run: session, tracer, clock and tallies."""

    def __init__(self, workload: str, seed: int, seconds: float, tracer,
                 work: str, inject_failure: bool = False):
        self.workload = workload
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.inject_failure = inject_failure
        self.rng = np.random.default_rng(seed)
        self.spark = None
        self.t0 = time.perf_counter()
        self.attempted = 0
        self.failed = 0
        self.lat = defaultdict(list)     # op class -> seconds
        self.layer = defaultdict(list)   # per-layer metric -> samples
        self.loop_ops = 0
        self.loop_s = 0.0
        self._groups: list[tuple[str, str]] = []

    def start_session(self) -> None:
        from picdexer_spark.session import get_spark

        n = len(os.sched_getaffinity(0))
        with self.tracer.span("session.start"):
            t = time.perf_counter()
            self.spark = get_spark(
                "perfbench", master=f"local[{n}]", shuffle_partitions=n,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir":
                        os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions":
                        "-Dderby.system.home="
                        + os.path.join(self.work, "derby")
                        + " -Djava.io.tmpdir="
                        + os.path.join(self.work, "tmp")
                        + " -XX:-UsePerfData",
                })
        self.layer["session.start_s"].append(time.perf_counter() - t)

    def end_setup(self, keep: tuple[str, ...] = ("session.",)) -> float:
        """Close set-up: return its duration and drop the samples taken
        during it, except the per-layer ones whose names start with a
        prefix in ``keep``."""
        setup_s = time.perf_counter() - self.t0
        self.lat.clear()
        for k in [k for k in self.layer if not k.startswith(keep)]:
            del self.layer[k]
        if self.inject_failure:
            raise RuntimeError("failure injected after set-up")
        return setup_s

    def op(self, kind: str) -> "_OpScope":
        """Clock, span and Spark job group around one engine call."""
        self.tracer.next_op()
        if self.tracer.enabled:
            group = f"perfbench-{self.tracer.op_id}"
            self.spark.sparkContext.setJobGroup(group, kind)
            self._groups.append((kind, group))
        return _OpScope(self, kind)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: WRONG RESULT: {what}", file=sys.stderr)

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: FAILED: {what}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def time_left(self, started: float) -> bool:
        return time.perf_counter() - started < self.seconds

    def record_write(self, res, seconds: float, index_dir: str, n_docs: int,
                     text_bytes: int) -> None:
        """Samples of one index write (a build or an append)."""
        ph = res.phase_secs
        self.layer["index.extract_assign_s"].append(
            ph.get("extract+assign_ids", 0.0))
        self.layer["index.docs_write_s"].append(ph.get("docs_write", 0.0))
        self.layer["index.postings_write_s"].append(
            ph.get("postings_write", 0.0))
        self.layer["index.stats_s"].append(
            ph.get("term_stats+metrics_aggs", 0.0)
            + ph.get("small_table_writes", 0.0))
        self.layer["index.postings_rows"].append(res.n_postings_rows)
        tb = table_bytes(os.path.join(index_dir, "snapshots",
                                      res.snapshot_id))
        for t, b in tb.items():
            self.layer[f"index.table_bytes.{t}"].append(b)
        self.lat["write"].append(seconds)
        self.layer["docs_per_s"].append(n_docs / seconds)
        self.layer["bytes_per_text_byte"].append(
            sum(tb.values()) / max(text_bytes, 1))

    def finish(self, setup_s: float) -> dict:
        """The metrics of this run: end-to-end, or per-layer if traced."""
        single = [x for c in TOPK_CLASSES for x in self.lat[c]]
        e2e = {
            "setup_s": (setup_s, "s"),
            "query_p50_ms": (1000 * _median(single), "ms"),
            "index_docs_per_s": (_median(self.layer["docs_per_s"]),
                                 "docs/s"),
            "freshness_p50_s": (_median(self.lat["fresh"]), "s"),
            "index_bytes_per_text_byte": (
                _median(self.layer["bytes_per_text_byte"]), "B/B"),
            "mix_ops_per_s": (self.loop_ops / self.loop_s, "1/s"),
            "peak_rss_mb": (procs.tree_peak_rss_mb(), "MB"),
        }
        samples = {"query_p50_ms": len(single),
                   "index_docs_per_s": len(self.layer["docs_per_s"]),
                   "freshness_p50_s": len(self.lat["fresh"]),
                   "mix_ops_per_s": self.loop_ops}
        for name, (value, unit) in e2e.items():
            print(f"  {name:<28}{value:>14.4f} {unit:<7} "
                  f"n={samples.get(name, 1)}")
        return self._per_layer() if self.tracer.enabled else e2e

    def _per_layer(self) -> dict:
        out = {k: (_median(self.layer[k]), u) for k, u in SAMPLED}
        out.update(self._spark_counts())
        got = self.tracer.self_seconds()
        for layer in LAYERS:
            out[f"self_s.{layer}"] = (got.get(layer, 0.0), "s")
        out["trace.spans"] = (len(self.tracer.spans), "count")
        # the traced twin of the workload's headline latency: its
        # difference to the untraced run is the tracing overhead
        xs = (self.lat["write"] if self.workload == "ingest"
              else [x for c in TOPK_CLASSES for x in self.lat[c]])
        out["trace.op_p50_ms"] = (1000 * _median(xs), "ms")
        return out

    def _spark_counts(self) -> dict:
        """Mean Spark jobs, stages and tasks per call of each op kind, from
        the status tracker's record of each call's job group."""
        tracker = self.spark.sparkContext.statusTracker()
        tot = {k: [0, 0, 0, 0] for k in OP_KINDS}
        for kind, group in self._groups:
            jobs = tracker.getJobIdsForGroup(group)
            stages = [s for j in jobs
                      for s in (getattr(tracker.getJobInfo(j), "stageIds",
                                        None) or [])]
            tasks = sum(getattr(tracker.getStageInfo(s), "numTasks", 0)
                        for s in stages)
            t = tot[kind]
            t[0] += 1
            t[1] += len(jobs)
            t[2] += len(stages)
            t[3] += tasks
        out = {}
        for kind, (n, jobs, stages, tasks) in tot.items():
            for name, v in (("jobs", jobs), ("stages", stages),
                            ("tasks", tasks)):
                out[f"spark.{name}.{kind}"] = (v / max(n, 1), "count")
        return out


class _OpScope:
    """Times one engine call; the span and job group close with it."""

    def __init__(self, run: Run, kind: str):
        self.run = run
        self._span = run.tracer.span(f"op.{kind}")

    def __enter__(self):
        self._span.__enter__()
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self.start
        self._span.__exit__(*exc)
        if self.run.tracer.enabled:
            self.run.spark.sparkContext.setJobGroup("perfbench-other",
                                                    "checks")
        return False


# ---------------------------------------------------------------------------
# engine calls shared by the workloads


def _engine(run: Run, index_dir: str):
    from picdexer_spark.query.bm25 import SearchEngine

    with run.op("engine") as o, run.tracer.span("query.engine_init"):
        eng = SearchEngine(run.spark, index_dir)
    run.layer["query.engine_init_ms"].append(1000 * o.seconds)
    return eng


def _rows(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _topk(run: Run, eng, op: dict):
    """One single top-k query. Traced runs split the lazy ``search`` call
    (planning, including df lookups) from ``collect`` (execution)."""
    cls = op["cls"]
    with run.op("topk") as o:
        if run.tracer.enabled:
            with run.tracer.span("query.plan") as p:
                df = eng.search(op["terms"], op["mode"], op["k"])
            with run.tracer.span("query.exec") as e:
                got = _rows(df)
        else:
            got = eng.search_topk(op["terms"], op["mode"], op["k"])
    run.lat[cls].append(o.seconds)
    if run.tracer.enabled:
        run.layer[f"query.plan_ms.{cls}"].append(
            1000 * (p["end"] - p["start"]))
        run.layer[f"query.exec_ms.{cls}"].append(
            1000 * (e["end"] - e["start"]))
    return got, o


def _qstring(run: Run, eng, op: dict):
    with run.op("qstring") as o:
        with run.tracer.span("query.plan") as p:
            df = eng.search_query_string(op["q"], op["k"])
        with run.tracer.span("query.exec") as e:
            got = _rows(df)
    run.lat["qstring"].append(o.seconds)
    if run.tracer.enabled:
        run.layer["query.plan_ms.qstring"].append(
            1000 * (p["end"] - p["start"]))
        run.layer["query.exec_ms.qstring"].append(
            1000 * (e["end"] - e["start"]))
    return got


def _batch(run: Run, eng, queries: list[dict]) -> dict[int, list]:
    with run.op("batch") as o, run.tracer.span("query.batch"):
        rows = eng.search_batch(queries).collect()
    run.layer["query.batch_ms"].append(1000 * o.seconds)
    got = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got[int(r["query_id"])].append((int(r["doc_id"]), float(r["score"])))
    return got


def _panel(run: Run, eng, terms: list[str]):
    """Query bar -> dashboard: the full match set of the query, semi-joined
    into a weekly date histogram and a top-3 terms agg with Other."""
    from picdexer_spark.operators import dashboards

    with run.op("panel"):
        with run.tracer.span("query.match_ids") as m:
            ids = eng.match_ids(terms, "conjunctive")
            docs = eng.cat.read_live_docs(eng.spark, eng.snapshot_id) \
                .join(ids, "doc_id", "semi")
        with run.tracer.span("operators.agg") as a:
            hist = dashboards.date_histogram(docs, "warc_ts", "week") \
                .collect()
            top = dashboards.top_terms_with_other(docs, "lang", 3).collect()
    if run.tracer.enabled:
        run.layer["query.match_ids_ms"].append(1000 * (m["end"] - m["start"]))
        run.layer["operators.agg_ms"].append(1000 * (a["end"] - a["start"]))
    return ([(r["bucket"], int(r["n"])) for r in hist],
            [(r["key"], int(r["n"])) for r in top])


def _replay(run: Run, eng, op: dict, hits: int) -> None:
    """Traced runs only: re-run a top-k query's scoring kernel on the driver
    over its posting blocks in every snapshot of the chain (read with
    pyarrow), to time the wand kernel and the codec's decode apart from
    Spark, and count postings read."""
    from picdexer_spark.index.codec import (segmented_delta_decode,
                                            varint_decode)
    from picdexer_spark.oracle.reference import B, K1
    from picdexer_spark.query import wand
    from picdexer_spark.query.bm25 import idf

    terms = sorted(set(op["terms"]))
    with run.tracer.span("sources.read_blocks"):
        pdf = pads.dataset([
            pads.dataset(p, format="parquet") for p in
            eng.cat.existing_chain_paths("postings", eng.snapshot_id)
        ]).to_table(filter=pads.field("term").isin(terms)).to_pandas()
    if pdf.empty:
        return
    n_post = int(pdf["n"].sum())
    run.layer[f"query.postings_per_hit.{op['cls']}"].append(
        n_post / max(hits, 1))
    with run.tracer.span("codec.decode") as c:
        segmented_delta_decode(
            varint_decode(b"".join(pdf["doc_ids_enc"])),
            pdf["n"].to_numpy(np.int64), pdf["first_doc"].to_numpy(np.int64))
        varint_decode(b"".join(pdf["tfs_enc"]))
        varint_decode(b"".join(pdf["dls_enc"]))
    run.layer["codec.decode_mpostings_per_s"].append(
        n_post / 1e6 / max(c["end"] - c["start"], 1e-9))
    df = pdf.groupby("term")["n"].sum()
    present = sorted(df.index)
    if op["mode"] == "conjunctive" and len(present) < len(terms):
        return
    idf_map = {t: idf(eng.n_docs_scoring, int(df[t])) for t in present}
    kernel = (wand.score_conjunctive if op["mode"] == "conjunctive"
              else wand.score_disjunctive)
    with run.tracer.span("wand.kernel") as w:
        for _, g in pdf.groupby("shard_id"):
            blocks = {
                t: wand.TermBlocks(
                    tg["first_doc"].to_numpy(np.int64),
                    tg["last_doc"].to_numpy(np.int64),
                    tg["max_tf"].to_numpy(np.int64),
                    tg["min_dl"].to_numpy(np.int64),
                    list(zip(tg["doc_ids_enc"], tg["tfs_enc"],
                             tg["dls_enc"])),
                    n=tg["n"].to_numpy(np.int64))
                for t, tg in g.groupby("term")}
            kernel(present, blocks, idf_map, K1, B, eng.avgdl_scoring,
                   op["k"])
    run.layer[f"wand.kernel_ms.{op['cls']}"].append(
        1000 * (w["end"] - w["start"]))


def _parse_replay(run: Run, q: str) -> None:
    from picdexer_spark.query.parser import parse_kuery, parse_kuery_tree

    parse = parse_kuery_tree if "(" in q else parse_kuery
    with run.tracer.span("parser.parse") as s:
        parse(q)
    run.layer["parser.parse_us"].append(1e6 * (s["end"] - s["start"]))


def _warm_ops(rng: np.random.Generator) -> list[dict]:
    """The set-up's warm-up queries: torso, rare, head, ..., OR and AND."""
    return [inputs.topk_op(rng, TOPK_CLASSES[(i + 1) % 3],
                           ("disjunctive", "conjunctive")[i % 2])
            for i in range(WARM_QUERIES)]


# ---------------------------------------------------------------------------
# search: read-only mix on a multi-shard index whose vocabulary exceeds the
# engine's df-cache preload limit (200,000 terms)


def run_search(run: Run) -> dict:
    from picdexer_spark.index.build import IndexConfig, build_index

    run.start_session()
    pages = inputs.gen_pages(run.rng, SEARCH_DOCS, "p", SEARCH_TAIL)
    path = inputs.write_pages(inputs.to_arrow(pages, run.rng),
                              os.path.join(run.work, "pages"))
    index_dir = os.path.join(run.work, "idx")
    with run.op("build") as w, run.tracer.span("index.build_index"):
        res = build_index(run.spark, run.spark.read.parquet(path), index_dir,
                          IndexConfig(shard_range=SEARCH_SHARD_RANGE))
    run.record_write(res, w.seconds, index_dir, len(pages),
                     _text_bytes(pages))
    eng = _engine(run, index_dir)
    batch_set = inputs.batch_queries(run.rng)
    # warm-up: the first single queries of a session pay one-time costs;
    # the first one to return ends the set-up build's freshness interval
    warm = _warm_ops(run.rng)
    first, o = _topk(run, eng, warm[0])
    fresh = o.start + o.seconds - w.start
    warm_got = [first] + [_topk(run, eng, op)[0] for op in warm[1:]]
    # the set-up build is this workload's one index write: keep its samples
    setup_s = run.end_setup(keep=("session.", "index.", "docs_per_s",
                                  "bytes_per_text_byte",
                                  "query.engine_init_ms"))
    run.lat["fresh"].append(fresh)

    docs = pq.read_table(os.path.join(index_dir, "snapshots",
                                      res.snapshot_id, "docs"),
                         columns=["doc_id", "url"]).to_pandas()
    ref = Reference(docs.merge(pages, on="url", how="left"))
    want_batch = ref.batch(batch_set)

    def batch_ok(got):
        return all(same_ranking(got.get(q, []), want_batch[q])
                   for q in want_batch)

    run.check(len(docs) == SEARCH_DOCS == res.n_docs, "indexed docs")
    for op, got in zip(warm, warm_got):
        run.check(same_ranking(got, ref.topk(op)), f"warm-up {op}")

    started = time.perf_counter()
    r = 0
    while r == 0 or run.time_left(started):
        for op in inputs.search_round(run.rng):
            try:
                if op["kind"] == "topk":
                    got, _ = _topk(run, eng, op)
                    run.check(same_ranking(got, ref.topk(op)), str(op))
                    if run.tracer.enabled:
                        _replay(run, eng, op, len(got))
                elif op["kind"] == "qstring":
                    got = _qstring(run, eng, op)
                    run.check(same_ranking(got, ref.qstring(op)), str(op))
                    if run.tracer.enabled:
                        _parse_replay(run, op["q"])
                elif op["kind"] == "batch":
                    run.check(batch_ok(_batch(run, eng, batch_set)), "batch")
                else:
                    got = _panel(run, eng, op["terms"])
                    run.check(got == ref.panel(op["terms"]), str(op))
            except Exception:
                run.error(str(op))
            run.loop_ops += 1
        r += 1
    run.loop_s = time.perf_counter() - started
    return run.finish(setup_s)


# ---------------------------------------------------------------------------
# ingest: appends (new docs, upserts, exact redeliveries) beside reads


class _Corpus:
    """The generated truth of the ingest index: every url's live version,
    each version tagged with a token of its own (``d<n>``), and the doc_id
    and text of every version the index holds, replaced ones included."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.seq = 0
        self.live: dict[str, dict] = {}     # url -> page row
        self.tag: dict[str, str] = {}       # url -> its live version's tag
        self.doc_id: dict[str, int] = {}    # url -> its live version's id
        self.texts: dict[int, str] = {}     # doc_id -> text, all versions
        self.upserts = 0

    def _tags(self, n: int) -> list[str]:
        self.seq += n
        return [f"d{i}" for i in range(self.seq - n, self.seq)]

    def _apply(self, pages: pd.DataFrame, tags: list[str]) -> None:
        for row, tag in zip(pages.to_dict("records"), tags):
            self.live[row["url"]] = row
            self.tag[row["url"]] = tag

    def indexed(self, ids_urls) -> None:
        """Record the doc_ids the index gave to live versions."""
        for doc_id, url in ids_urls:
            self.doc_id[url] = int(doc_id)
            self.texts[int(doc_id)] = self.live[url]["text"]

    def reference(self) -> Reference:
        docs = pd.DataFrame({"doc_id": list(self.texts),
                             "text": list(self.texts.values())})
        return Reference(docs, live=set(self.doc_id.values()))

    def base(self, n: int) -> pd.DataFrame:
        tags = self._tags(n)
        pages = inputs.gen_pages(self.rng, n, "p", tags=tags)
        self._apply(pages, tags)
        return pages

    def batch(self, b: int):
        """Batch ``b``: new pages and upserts (new text for live urls), both
        carrying the batch's probe token, then exact redeliveries of live
        pages. Returns (pages, probe, urls the probe must find, tags of the
        versions the upserts replace)."""
        probe = f"probe{b}"
        urls = sorted(self.live)
        pick = self.rng.choice(len(urls), INGEST_UPSERTS + INGEST_REDELIVERIES,
                               replace=False)
        up = [urls[i] for i in pick[:INGEST_UPSERTS]]
        redo = [urls[i] for i in pick[INGEST_UPSERTS:]]
        tags = self._tags(INGEST_NEW + INGEST_UPSERTS)
        fresh = inputs.gen_pages(self.rng, len(tags), f"b{b}",
                                 tags=[f"{probe} {t}" for t in tags],
                                 ts_offset_us=inputs.YEAR_US * (b + 1))
        fresh.loc[INGEST_NEW:, "url"] = up
        replaced = [self.tag[u] for u in up]
        redelivered = pd.DataFrame([self.live[u] for u in redo])
        self._apply(fresh, tags)
        self.upserts += len(up)
        return (pd.concat([fresh, redelivered], ignore_index=True), probe,
                set(fresh["url"]), replaced)


def _append(run: Run, corpus: _Corpus, index_dir: str, b: int):
    """One append: write batch ``b``, open a new engine, query until the
    batch is found, then run reader queries on the grown index. Every
    answer is checked; returns the engine, the probe query and its hits."""
    from picdexer_spark.index.build import IndexConfig
    from picdexer_spark.streaming.incremental import build_incremental

    pages, probe, want, replaced = corpus.batch(b)
    path = inputs.write_pages(inputs.to_arrow(pages, run.rng),
                              os.path.join(run.work, f"pages-{b}"))
    with run.op("append") as w, \
            run.tracer.span("streaming.build_incremental"):
        res = build_incremental(run.spark, run.spark.read.parquet(path),
                                index_dir, IndexConfig(),
                                source_id=f"batch-{b}")
    run.layer["streaming.append_s"].append(w.seconds)
    run.record_write(res, w.seconds, index_dir, len(want),
                     _text_bytes(pages.iloc[:len(want)]))
    eng = _engine(run, index_dir)
    op = {"cls": "rare", "terms": [probe], "mode": "conjunctive",
          "k": len(want) + 10}
    got, o = _topk(run, eng, op)
    run.lat["fresh"].append(o.start + o.seconds - w.start)
    gone, _ = _topk(run, eng, {"cls": "rare", "terms": replaced,
                               "mode": "disjunctive", "k": 10})
    readers = [inputs.topk_op(run.rng, TOPK_CLASSES[i % 3],
                              ("disjunctive", "conjunctive")[(i // 3 + b) % 2])
               for i in range(INGEST_READERS)]
    read_got = [_topk(run, eng, r)[0] for r in readers]
    run.check(res.n_docs == len(corpus.live),
              f"batch {b}: {res.n_docs} live docs, want {len(corpus.live)}")
    run.check(not gone, f"batch {b}: replaced versions returned: {gone}")
    rows = eng.mget([d for d, _ in got]).select(
        "doc_id", "url", "text").collect()
    run.check(len(rows) == len(got) == len(want)
              and {r["url"] for r in rows} == want
              and all(r["text"] == corpus.live[r["url"]]["text"]
                      for r in rows),
              f"batch {b}: the probe must find exactly the new versions")
    corpus.indexed((r["doc_id"], r["url"]) for r in rows)
    ref = corpus.reference()
    for r, g in zip(readers, read_got):
        run.check(same_ranking(g, ref.topk(r)), f"batch {b}: {r}")
        if run.tracer.enabled:
            _replay(run, eng, r, len(g))
    return eng, op, got


def run_ingest(run: Run) -> dict:
    from picdexer_spark.index.build import IndexConfig, build_index
    from picdexer_spark.streaming.incremental import merge_chain

    run.start_session()
    corpus = _Corpus(run.rng)
    base = corpus.base(INGEST_BASE_DOCS)
    path = inputs.write_pages(inputs.to_arrow(base, run.rng),
                              os.path.join(run.work, "pages-base"))
    index_dir = os.path.join(run.work, "idx")
    with run.op("build"), run.tracer.span("index.build_index"):
        res = build_index(run.spark, run.spark.read.parquet(path), index_dir,
                          IndexConfig(), sources=["base"])
    ids = pq.read_table(os.path.join(index_dir, "snapshots",
                                     res.snapshot_id, "docs"),
                        columns=["doc_id", "url"])
    corpus.indexed(zip(ids.column("doc_id").to_pylist(),
                       ids.column("url").to_pylist()))
    # warm-up: single queries on the base index
    eng = _engine(run, index_dir)
    first = base["url"][0]
    got, _ = _topk(run, eng, {"cls": "rare", "terms": [corpus.tag[first]],
                              "mode": "conjunctive", "k": 10})
    warm = _warm_ops(run.rng)[1:]
    warm_got = [_topk(run, eng, op)[0] for op in warm]
    setup_s = run.end_setup()
    run.check([d for d, _ in got] == [corpus.doc_id[first]],
              "a base version's tag finds exactly its doc")
    ref = corpus.reference()
    for op, g in zip(warm, warm_got):
        run.check(same_ranking(g, ref.topk(op)), f"warm-up {op}")

    started = time.perf_counter()
    b = 0
    while b == 0 or run.time_left(started):
        try:
            eng, op, got = _append(run, corpus, index_dir, b)
            with run.op("merge") as m, \
                    run.tracer.span("streaming.merge_chain"):
                merge_chain(run.spark, index_dir, MERGE_MAX_SEGMENTS)
            run.layer["streaming.merge_s"].append(m.seconds)
            eng = _engine(run, index_dir)
            again, _ = _topk(run, eng, op)
            run.check(again == got, f"batch {b}: merge changed the hits")
            # append, 2 engines, probe, replaced versions, readers, merge,
            # probe again
            run.loop_ops += 7 + INGEST_READERS
        except Exception:
            run.error(f"ingest batch {b}")
        b += 1
    run.loop_s = time.perf_counter() - started

    with run.tracer.span("sources.index_stats"):
        stats = eng.index_stats()
    run.layer["sources.chain_segments"].append(stats["segments"])
    run.layer["sources.tombstones"].append(stats["deleted_docs"])
    run.check(stats["live_docs"] == len(corpus.live)
              and stats["deleted_docs"] == corpus.upserts,
              f"index_stats {stats}: want {len(corpus.live)} live, "
              f"{corpus.upserts} deleted")
    return run.finish(setup_s)


WORKLOADS = {"search": run_search, "ingest": run_ingest}
