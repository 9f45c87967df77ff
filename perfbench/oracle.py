"""Independent answers for every operation, computed from the generated
inputs alone: BM25 top-k from the pure-Python ``OracleIndex`` (ids exact,
scores to 1e-9 relative), term expansions from its dictionary, and panel
aggregations from pandas over the generated pages."""

from __future__ import annotations

import math

import pandas as pd

from picdexer_spark.oracle.reference import OracleIndex

MAX_EXPANSIONS = 50


def osa_distance(a: str, b: str) -> int:
    """Optimal-string-alignment edit distance (adjacent swaps cost 1)."""
    prev2, prev = None, list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        cur = [i] + [0] * len(b)
        for j in range(1, len(b) + 1):
            cost = a[i - 1] != b[j - 1]
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (i > 1 and j > 1 and a[i - 1] == b[j - 2]
                    and a[i - 2] == b[j - 1]):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[-1]


def same_ranking(got: list[tuple[int, float]],
                 want: list[tuple[int, float]]) -> bool:
    return [d for d, _ in got] == [d for d, _ in want] and all(
        math.isclose(g, w, rel_tol=1e-9) for (_, g), (_, w) in zip(got, want))


class Reference:
    """Reference answers over one index state: ``docs`` holds doc_id, text,
    lang and warc_ts for every document version the index holds.

    ``live``, when given, is the set of doc_ids not yet replaced: scoring
    statistics count every version (the engine's as-built contract until
    compaction) but only live versions are returned."""

    def __init__(self, docs: pd.DataFrame, live: set[int] | None = None):
        self.ix = OracleIndex(list(zip(docs["doc_id"].tolist(),
                                       docs["text"].tolist())))
        self.docs = docs.set_index("doc_id")
        self.live = live

    def _rank(self, terms, mode, k, langs=None, groups=None):
        n = self.ix.n_docs
        full = (self.ix.search_groups(groups, n) if groups
                else self.ix.search(terms, mode, n))
        if langs is not None:
            ok = self.docs["lang"].isin(langs)
            full = [(d, s) for d, s in full if ok.at[d]]
        return full[:k]

    def topk(self, op: dict) -> list[tuple[int, float]]:
        if self.live is None:
            return self.ix.search(op["terms"], op["mode"], op["k"])
        full = self.ix.search(op["terms"], op["mode"], self.ix.n_docs)
        return [(d, s) for d, s in full if d in self.live][:op["k"]]

    def batch(self, queries: list[dict]) -> dict[int, list]:
        return {q["query_id"]: self.ix.search(q["terms"], q["mode"], q["k"])
                for q in queries}

    def expand_prefix(self, stem: str) -> list[str]:
        hits = [t for t in self.ix.postings if t.startswith(stem)]
        hits.sort(key=lambda t: (-self.ix.df(t), t))
        return hits[:MAX_EXPANSIONS]

    def expand_fuzzy(self, term: str) -> list[str]:
        """Dictionary terms within one edit (the kuery ``term~1``)."""
        near = []
        for t in self.ix.postings:
            if abs(len(t) - len(term)) <= 1:
                d = osa_distance(term, t)
                if d <= 1:
                    near.append((d, -self.ix.df(t), t))
        return [t for _, _, t in sorted(near)[:MAX_EXPANSIONS]]

    def qstring(self, op: dict) -> list[tuple[int, float]]:
        k, langs = op["k"], op.get("langs")
        if "groups" in op:
            return self._rank(None, None, k, langs, op["groups"])
        if "prefix" in op:
            terms = self.expand_prefix(op["prefix"])
        elif "fuzzy" in op:
            terms = self.expand_fuzzy(op["fuzzy"])
        else:
            terms = op["terms"]
        return self._rank(terms, op["mode"], k, langs)

    def panel(self, terms: list[str]) -> tuple[list, list]:
        """(weekly histogram, top-3 languages + other) over the docs that
        contain every term: the query-bar -> dashboard contract."""
        ids = None
        for t in terms:
            s = set(self.ix.postings.get(t, {}))
            ids = s if ids is None else ids & s
        sub = self.docs.loc[sorted(ids or [])]
        ts = pd.to_datetime(sub["warc_ts"])
        week = (ts.dt.normalize()
                - pd.to_timedelta(ts.dt.weekday, unit="D")).dt.date
        hist = sorted(week.value_counts().items())
        langs = sorted(sub["lang"].value_counts().items(),
                       key=lambda kv: (-kv[1], kv[0]))
        top = langs[:3]
        other = len(sub) - sum(n for _, n in top)
        if other > 0:
            top.append(("__other__", other))
        return [(k, int(n)) for k, n in hist], [(k, int(n)) for k, n in top]
