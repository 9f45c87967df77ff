"""Seeded inputs for every workload: page corpora and query mixes.

Everything here is a pure function of a ``numpy.random.Generator`` seeded
from ``--seed``; the engine only ever sees the pages, queries and batches
made here.

Text model: a Zipf-ranked 10k-term common vocabulary (``w0``..``w9999``;
head = ``w0``..``w19``, torso = ``w100``..``w999``), rare terms shared by
3-8 documents (``rareterm<g>``), and optionally a web-like long tail of
near-unique tokens (``x<base36>``) that stands in for the typos, ids and
names which make most of a real web vocabulary.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

COMMON_VOCAB = 10_000
ZIPF_S = 1.07
N_SITES = 97
RARE_GROUPS = 40
HEAD = [f"w{i}" for i in range(20)]
TORSO = [f"w{i}" for i in range(100, 1000)]
RARE = [f"rareterm{g}" for g in range(RARE_GROUPS)]
#: long-tail tokens are ``x`` + 7-8 base-36 digits: far from every common
#: term in edit distance, so fuzzy expansions of common terms stay small
TAIL_LO, TAIL_HI = 36 ** 6, 36 ** 8
DOCS_PER_FILE = 500
BATCH_QUERIES = 20
BASE_TS = np.datetime64("2023-01-01T00:00:00", "us")
YEAR_US = 365 * 24 * 3600 * 1_000_000

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

_VOCAB = np.array([f"w{i}" for i in range(COMMON_VOCAB)], dtype=object)
_P = 1.0 / np.power(np.arange(1, COMMON_VOCAB + 1, dtype=np.float64), ZIPF_S)
_P /= _P.sum()


def gen_texts(rng: np.random.Generator, n: int, tail_frac: float = 0.0,
              tags: list[str] | None = None) -> list[str]:
    """``n`` document texts: lognormal lengths (mean ~200 tokens, 1% empty),
    Zipf common words, a ``tail_frac`` share of long-tail tokens, rare-term
    groups, and ``tags[i]`` appended to document i when given."""
    lens = np.clip(rng.lognormal(5.0, 0.6, n), 1, 2000).astype(np.int64)
    lens[rng.random(n) < 0.01] = 0
    total = int(lens.sum())
    words = _VOCAB[rng.choice(COMMON_VOCAB, size=total, p=_P)]
    if tail_frac:
        mask = rng.random(total) < tail_frac
        vals = rng.integers(TAIL_LO, TAIL_HI, int(mask.sum()))
        words[mask] = ["x" + np.base_repr(int(v), 36).lower() for v in vals]
    off = np.concatenate(([0], np.cumsum(lens)))
    texts = [" ".join(words[off[i]:off[i + 1]]) for i in range(n)]
    for g in range(RARE_GROUPS if n >= 100 else 0):
        for m in rng.choice(n, size=int(rng.integers(3, 9)), replace=False):
            texts[m] = (texts[m] + " " + RARE[g]).strip()
    if tags:
        texts = [(t + " " + tag).strip() for t, tag in zip(texts, tags)]
    return texts


def gen_pages(rng: np.random.Generator, n: int, url_prefix: str = "p",
              tail_frac: float = 0.0, tags: list[str] | None = None,
              ts_offset_us: int = 0) -> pd.DataFrame:
    """Logical pages: url, warc_ts, lang and the text the index must hold."""
    site = rng.integers(0, N_SITES, n)
    ts = BASE_TS + (np.sort(rng.integers(0, YEAR_US, n)) + ts_offset_us) \
        .astype("timedelta64[us]")
    lang = np.where(rng.random(n) < 0.9, "en",
                    rng.choice(np.array(["fr", "de", ""]), n))
    return pd.DataFrame({
        "url": [f"https://site{s}.example/{url_prefix}/{i}"
                for i, s in enumerate(site)],
        "warc_ts": ts,
        "lang": lang,
        "text": gen_texts(rng, n, tail_frac, tags),
    })


def to_arrow(pages: pd.DataFrame, rng: np.random.Generator) -> pa.Table:
    """The crawl-record form the engine ingests: the text travels inside an
    html document (the extractor must recover it), except for 3% text-only
    records, which carry the text and no html."""
    text_only = rng.random(len(pages)) < 0.03
    html = [
        None if skip else (
            "<html><head><title>" + site + "</title></head><body><nav>"
            '<a href="/">' + site + "</a></nav><article>" + text
            + "</article><footer>" + site + "</footer></body></html>"
        ).encode()
        for skip, text, site in zip(
            text_only, pages["text"], pages["url"].str.split("/").str[2])
    ]
    return pa.Table.from_pydict({
        "url": pages["url"].tolist(),
        "warc_ts": pages["warc_ts"].to_numpy(),
        "html": html,
        "text": [t if skip else None
                 for skip, t in zip(text_only, pages["text"])],
        "lang": pages["lang"].tolist(),
    }, schema=PAGES_SCHEMA)


def write_pages(table: pa.Table, path: str) -> str:
    """Write the records as many parquet part files (the shape of a crawl)."""
    os.makedirs(path, exist_ok=True)
    for i, lo in enumerate(range(0, table.num_rows, DOCS_PER_FILE)):
        pq.write_table(table.slice(lo, DOCS_PER_FILE),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return path


def _pick(rng, pool, n):
    return [str(t) for t in rng.choice(pool, size=n, replace=False)]


def topk_op(rng: np.random.Generator, cls: str, mode: str,
            k: int = 10) -> dict:
    """One single top-k query of a selectivity class (head/torso/rare)."""
    pool = {"head": HEAD, "torso": TORSO, "rare": RARE}[cls]
    n = int(rng.integers(1, 4)) if mode == "disjunctive" else 2
    terms = _pick(rng, pool, n)
    if cls == "rare" and mode == "conjunctive":
        terms = [terms[0], str(rng.choice(HEAD))]   # selective AND head
    return {"kind": "topk", "cls": cls, "terms": terms, "mode": mode, "k": k}


#: the kuery shapes, one call each per round of the search mix
QSTRING_SHAPES = ("filter", "prefix", "fuzzy", "tree")


def qstring_op(rng: np.random.Generator, shape: str) -> dict:
    """One kuery string and its structured meaning, for the reference."""
    t1, t2 = _pick(rng, TORSO, 2)
    op = {"kind": "qstring", "cls": "qstring", "k": 10}
    if shape == "filter":       # field filter + bare words (OR)
        return {**op, "q": f"lang:en {t1} {t2}", "terms": [t1, t2],
                "mode": "disjunctive", "langs": ["en"]}
    if shape == "prefix":
        return {**op, "q": f"{t1[:3]}*", "prefix": t1[:3],
                "mode": "disjunctive"}
    if shape == "fuzzy":        # one edit
        return {**op, "q": f"{t1}~1", "fuzzy": t1, "mode": "disjunctive"}
    h = str(rng.choice(HEAD))   # boolean tree: filter OR, scored OR, AND
    return {**op, "q": f"(lang:en OR lang:de) AND ({t1} OR {t2}) AND {h}",
            "groups": [[t1, t2], [h]], "langs": ["en", "de"]}


def batch_queries(rng: np.random.Generator) -> list[dict]:
    """The fixed query set of one search_batch: head/torso/rare, AND/OR,
    k in {1, 10, 100}, one query with a term absent from the corpus."""
    out = []
    for qid in range(BATCH_QUERIES):
        cls = ("head", "torso", "rare")[qid % 3]
        op = topk_op(rng, cls, ("disjunctive", "conjunctive")[qid % 2],
                     (10, 1, 10, 100)[qid % 4])
        if qid == BATCH_QUERIES - 1:
            op["terms"] = [op["terms"][0], "zzznonexistent"]
        out.append({"query_id": qid, "terms": op["terms"],
                    "mode": op["mode"], "k": op["k"]})
    return out


def search_round(rng: np.random.Generator) -> list[dict]:
    """One round of the search mix; every round holds the same calls and
    only the terms change: 12 single top-k queries (head, torso and rare,
    each twice with OR and twice with AND; k = 1, 10 and 100 four times
    each), the 4 kuery shapes, one search_batch and one dashboard panel."""
    modes = ("disjunctive", "conjunctive")
    topk = [topk_op(rng, ("head", "torso", "rare")[i % 3],
                    modes[(i // 3) % 2], (10, 100, 1, 1, 10, 100)[i % 6])
            for i in range(12)]
    qs = [qstring_op(rng, shape) for shape in QSTRING_SHAPES]
    panel = {"kind": "panel",
             "terms": _pick(rng, HEAD, 1) + _pick(rng, TORSO, 1)}
    others = [qs[0], qs[1], {"kind": "batch"}, qs[2], qs[3], panel]
    return [op for i, other in enumerate(others)
            for op in (topk[2 * i], topk[2 * i + 1], other)]
