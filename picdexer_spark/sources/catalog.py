"""Index catalog: on-disk layout, snapshot commit protocol, DDL analogue.

The reference's setup stage delete-then-PUTs two ES index mappings and
imports Kibana saved objects — i.e. CREATE OR REPLACE of the schema objects
(reference: internal/setup/setup.go:48-77, 92-148; esManager.go:43-90). Our
analogue owns four tables plus a manifest:

    <index_dir>/
      snapshots/snap-NNNNNN/
        docs/        doc_id, url, warc_ts, lang, doc_len, text_md5, text
        postings/    term, shard_id, block_no, first_doc, last_doc, n,
                     max_tf, min_dl, doc_ids_enc, tfs_enc, dls_enc
                     — directory-partitioned by FIELD (one write):
                     field=text/ is the `postings` table, field=url/ the
                     `postings_url` table (Lucene's per-field terms
                     dictionary; content scans never read url blocks)
        term_stats/  term, df, cf — one row per term of both fields; each
                     file sorted by term in fixed ~1 MB row groups
                     (index/termdict.py writes every copy), so the
                     footers' per-row-group term ranges are a terms
                     index: the engine's TermDictionary answers df and
                     prefix lookups driver-side by reading only the row
                     groups that can hold the wanted terms
        stats/       n_docs, total_len, avgdl        (single row)
        metrics/     shard_id, docs_indexed, postings_emitted,
                     bytes_compressed, snapshot_id
        lineage/     import_id, source_partition, n_rows, snapshot_id
      MANIFEST.json  {"current": "snap-NNNNNN", "snapshots": [...],
                      "processed_sources": [...]}

Commit protocol (Iceberg-snapshot semantics without the Iceberg jars — the
runtime image has no Iceberg; with jars present these would be `CREATE OR
REPLACE TABLE ... USING iceberg` + snapshot reads): a build writes a complete
new snapshot directory, then atomically replaces MANIFEST.json via
os.replace. A crash mid-build leaves the previous manifest intact — restart
re-reads the manifest and resumes from the last committed snapshot, which is
the resumability contract (north rule).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from picdexer_spark.index.termdict import TERM_STATS_SCHEMA

TABLES = ("docs", "postings", "postings_url", "term_stats", "stats",
          "metrics", "lineage", "deletes")

#: term-namespace prefix for url-field postings (ES multi-field mapping:
#: the url column is a second scored text field — see
#: IndexConfig.index_url_field). `\x1f` is outside the analyzer charset
#: ([a-z0-9]), so no user term, prefix, wildcard or fuzzy expansion can
#: collide with a namespaced term; engine-side dictionary operations
#: (suggest/expand_*) additionally filter the namespace out explicitly.
URL_FIELD_NS = "\x1furl\x1f"

#: append-only tables: a snapshot holds only its DELTA rows; reads union the
#: parent chain (the Iceberg manifest-list pattern — incremental commits
#: never rewrite history). term_stats/stats are small and written in full
#: per snapshot. `deletes` is the tombstone table: upserting a url with new
#: content appends the OLD doc_id here (the Lucene delete-bitmap / Iceberg
#: positional-delete pattern — postings are never rewritten in place; a
#: compaction rewrites a fresh snapshot without tombstoned docs).
CHAINED_TABLES = {"docs", "postings", "postings_url", "metrics", "lineage",
                  "deletes"}

DELETES_SCHEMA = "doc_id long, reason string, snapshot_id string"

POSTINGS_SCHEMA = (
    "term string, shard_id long, block_no int, first_doc long, last_doc long,"
    " n int, max_tf long, min_dl long, sum_tf long,"
    " doc_ids_enc binary, tfs_enc binary, dls_enc binary, pos_enc binary"
)

DOCS_SCHEMA = (
    "doc_id long, url string, warc_ts timestamp, lang string,"
    " doc_len long, text_md5 string, text string"
)

METRICS_SCHEMA = (
    "shard_id long, docs_indexed long, postings_emitted long,"
    " bytes_compressed long, snapshot_id string"
)

LINEAGE_SCHEMA = (
    "source_partition string, n_rows long, import_id string,"
    " snapshot_id string"
)

#: chained reads span snapshots that may predate a column (e.g. a parent
#: built without positions has no pos_enc) — parquet schema inference is
#: footer-order-dependent there, so chained tables are ALWAYS read with a
#: pinned schema (missing columns come back NULL deterministically)
CHAINED_SCHEMAS = {
    "docs": DOCS_SCHEMA,
    "postings": POSTINGS_SCHEMA,
    # per-FIELD posting tables, the Lucene per-field terms-dictionary
    # layout: url postings live apart so content-term scans never read
    # past them (measured ~20% query latency when they shared one table)
    "postings_url": POSTINGS_SCHEMA,
    "deletes": DELETES_SCHEMA,
    "metrics": METRICS_SCHEMA,
    "lineage": LINEAGE_SCHEMA,
}


class IndexCatalog:
    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.manifest_path = os.path.join(index_dir, "MANIFEST.json")

    # ---- manifest -------------------------------------------------------
    def read_manifest(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"current": None, "snapshots": [], "processed_sources": []}
        with open(self.manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        os.makedirs(self.index_dir, exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self.manifest_path)  # atomic commit point

    def current_snapshot(self) -> str | None:
        return self.read_manifest()["current"]

    def new_snapshot_id(self) -> str:
        # max existing numeric suffix + 1, NOT list length + 1: expiring
        # merged-away snapshots (merge_chain expire=True) shrinks the
        # list, and a length-derived id would collide with a live
        # snapshot — the next build would write into / chain onto it
        m = self.read_manifest()
        seq = 0
        for s in m["snapshots"]:
            try:
                seq = max(seq, int(s["id"].rsplit("-", 1)[1]))
            except (IndexError, ValueError):
                pass
        return f"snap-{seq + 1:06d}"

    def snapshot_dir(self, snapshot_id: str | None = None) -> str:
        sid = snapshot_id or self.current_snapshot()
        if sid is None:
            raise FileNotFoundError(f"no committed snapshot in {self.index_dir}")
        return os.path.join(self.index_dir, "snapshots", sid)

    def table_path(self, table: str, snapshot_id: str | None = None) -> str:
        assert table in TABLES, table
        sd = self.snapshot_dir(snapshot_id)
        # per-field posting tables are SUBDIRECTORIES of one
        # field-partitioned write (build_index partitionBy("field")):
        # field=text/ is `postings`, field=url/ is `postings_url`
        if table == "postings":
            return os.path.join(sd, "postings", "field=text")
        if table == "postings_url":
            return os.path.join(sd, "postings", "field=url")
        return os.path.join(sd, table)

    def parent_chain(self, snapshot_id: str | None = None) -> list[str]:
        """[snapshot, parent, grandparent, ...] oldest last."""
        sid = snapshot_id or self.current_snapshot()
        if sid is None:
            return []
        by_id = {s["id"]: s for s in self.read_manifest()["snapshots"]}
        chain = []
        cur: str | None = sid
        while cur is not None:
            chain.append(cur)
            cur = by_id.get(cur, {}).get("parent")
        return chain

    def committed_stats(self, spark: SparkSession) -> dict | None:
        """stats row of the current snapshot (None if no snapshot)."""
        if self.current_snapshot() is None:
            return None
        row = self.read(spark, "stats").first()
        return row.asDict() if row else None

    def commit(self, snapshot_id: str, processed_sources: list[str],
               parent: str | None = None) -> None:
        """Atomically advance `current` to a fully-written snapshot dir."""
        m = self.read_manifest()
        m["snapshots"].append(
            {"id": snapshot_id, "committed_at": time.time(),
             "sources": processed_sources, "parent": parent}
        )
        m["current"] = snapshot_id
        seen = set(m["processed_sources"])
        m["processed_sources"] += [s for s in processed_sources if s not in seen]
        self._write_manifest(m)

    def abort_uncommitted(self) -> None:
        """Drop snapshot dirs never committed (crash leftovers). Dirs in
        ``expire_pending`` (expired by a merge fold, kept one cycle as a
        grace window for pinned readers — streaming/incremental.py
        merge_chain) are NOT crash leftovers and stay."""
        m = self.read_manifest()
        committed = {s["id"] for s in m["snapshots"]}
        committed |= set(m.get("expire_pending", []))
        snaps_root = os.path.join(self.index_dir, "snapshots")
        if not os.path.isdir(snaps_root):
            return
        for d in os.listdir(snaps_root):
            if d not in committed:
                shutil.rmtree(os.path.join(snaps_root, d), ignore_errors=True)

    # ---- table IO -------------------------------------------------------
    def existing_chain_paths(self, table: str,
                             snapshot_id: str | None = None) -> list[str]:
        """On-disk directories a chained-table read would union (empty list
        when no snapshot in the chain holds the table). Driver-side
        metadata only — lets callers skip Spark jobs over tables that are
        provably absent (e.g. the tombstone count of a chain with no
        upserts)."""
        assert table in CHAINED_TABLES, table
        return [
            p for p in (
                self.table_path(table, sid)
                for sid in self.parent_chain(snapshot_id)
            ) if os.path.isdir(p)
        ]

    def nearest_table_path(self, table: str,
                           snapshot_id: str | None = None) -> str | None:
        """Path of the nearest-ancestor copy of a non-chained table
        (term_stats / stats), or None."""
        for sid in self.parent_chain(snapshot_id):
            p = self.table_path(table, sid)
            if os.path.isdir(p):
                return p
        return None

    @staticmethod
    def read_arrow(path: str):
        """Driver-side pyarrow read of one metadata-sized table directory
        (stats is 1 row; term_stats has its own row-group-indexed reader,
        index/termdict.py). The catalog layout is POSIX-visible by design
        (every resolution above is os.path based)."""
        import glob

        import pyarrow.parquet as pq

        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no parquet files under {path}")
        import pyarrow as pa

        return pa.concat_tables(
            [pq.read_table(f) for f in files]
        )

    def read(self, spark: SparkSession, table: str,
             snapshot_id: str | None = None) -> DataFrame:
        if table in CHAINED_TABLES:
            paths = [
                self.table_path(table, sid)
                for sid in self.parent_chain(snapshot_id)
            ]
            paths = [p for p in paths if os.path.isdir(p)]
            if not paths and table in ("deletes", "postings_url"):
                # optional tables: a chain with no upserts has no
                # tombstones; one built without the url field has no url
                # postings
                return spark.createDataFrame([], CHAINED_SCHEMAS[table])
            return spark.read.schema(CHAINED_SCHEMAS[table]).parquet(*paths)
        # non-chained tables (term_stats, stats) resolve to the NEAREST
        # ancestor holding the table: a delete-only snapshot records a
        # parent POINTER (its manifest `parent` entry) instead of copying a
        # vocabulary-sized term_stats forward — at web scale that copy is
        # GBs of duplicated storage plus a single-threaded driver file walk
        # per delete. Snapshots that DO rewrite the table (builds, compact)
        # shadow the ancestor naturally.
        for sid in self.parent_chain(snapshot_id):
            p = self.table_path(table, sid)
            if os.path.isdir(p):
                if table == "term_stats":
                    return spark.read.schema(TERM_STATS_SCHEMA).parquet(p)
                return spark.read.parquet(p)
        raise FileNotFoundError(
            f"table {table!r} absent in snapshot chain of "
            f"{snapshot_id or self.current_snapshot()}"
        )

    def read_live_docs(self, spark: SparkSession,
                       snapshot_id: str | None = None) -> DataFrame:
        """The doc store minus tombstoned rows — what a user means by
        'the documents' after upserts."""
        docs = self.read(spark, "docs", snapshot_id)
        dels = self.read(spark, "deletes", snapshot_id).select("doc_id")
        return docs.join(dels, "doc_id", "left_anti")

    def register_views(self, spark: SparkSession,
                       snapshot_id: str | None = None) -> None:
        """CREATE OR REPLACE VIEW analogue for the engine tables.

        `docs` is the LIVE view (tombstones filtered — dashboards over a
        post-upsert index must not count superseded versions); the raw
        chain including tombstoned rows is exposed as `docs_all`."""
        for t in TABLES:
            try:
                df = self.read(spark, t, snapshot_id)
                if t == "docs":
                    df.createOrReplaceTempView("docs_all")
                    df = self.read_live_docs(spark, snapshot_id)
                df.createOrReplaceTempView(t)
            except Exception:
                pass  # table absent in this snapshot chain

    def install_dashboards(self, spark: SparkSession,
                           snapshot_id: str | None = None) -> list[str]:
        """The setup stage's Kibana import, as CREATE OR REPLACE VIEWs
        (reference: internal/setup/setup.go:92-148 imports kibana.ndjson;
        our dashboards are SQL views over the engine tables — Q1/Q2/Q3
        analogues over docs + the Statistics dashboard over metrics,
        kibana.ndjson:9)."""
        self.register_views(spark, snapshot_id)
        views = {
            "dash_doc_count": "SELECT count(*) AS n FROM docs",
            "dash_docs_per_week": (
                "SELECT date_trunc('week', warc_ts) AS bucket,"
                " count(*) AS n FROM docs GROUP BY 1 ORDER BY 1"
            ),
            "dash_lang_top": (
                "SELECT lang AS key, count(*) AS n FROM docs"
                " GROUP BY lang ORDER BY n DESC, key ASC LIMIT 20"
            ),
            "dash_statistics": (
                "SELECT m.shard_id, m.docs_indexed, m.postings_emitted,"
                " m.bytes_compressed, m.snapshot_id FROM metrics m"
                " ORDER BY m.shard_id"
            ),
            "dash_import_lineage": (
                "SELECT import_id, snapshot_id, count(*) AS n_sources,"
                " sum(n_rows) AS n_rows FROM lineage"
                " GROUP BY import_id, snapshot_id ORDER BY snapshot_id"
            ),
        }
        for name, sql in views.items():
            spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS {sql}")
        return sorted(views)
