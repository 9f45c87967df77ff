"""Driver-side term dictionary (index/termdict.py).

Pins:

- the engine answers term_dfs / expand_prefix / expand_prefix_alpha /
  suggest / vocab_size / expand_wildcard (leading star included) /
  expand_regexp / expand_fuzzy (with and without a prefix) exactly like
  a brute force over the whole term_stats table, on a table spread over
  several files and row groups, both sorted per file (the layout every
  writer now produces) and unsorted (tables written before);
- on the sorted layout a one-term lookup reads at most one row group per
  file (the footer term ranges prune the rest), and every sweep reads
  one row group per read, so the driver holds one group at a time;
- the builder's own files are sorted by term and keep footer term ranges;
- those lookups, and engine construction, submit no Spark job at all;
- prefix expansions with capped n, and fuzzy expansions and term
  suggestions behind the character-histogram bound, equal a brute force
  over the builder's own table.
"""

import glob
import os
import re
import shutil

import numpy as np
import pyarrow.parquet as pq
import pytest

from picdexer_spark.fixtures.pages import gen_pages
from picdexer_spark.index.build import IndexConfig, build_index
from picdexer_spark.index.termdict import TermDictionary
from picdexer_spark.query.bm25 import SearchEngine, damerau_capped
from picdexer_spark.sources.catalog import URL_FIELD_NS, IndexCatalog

N = 400
N_FILES = 3
ROWS_PER_GROUP = 400
PREFIXES = ("w1", "w", "rare", "zz", "", URL_FIELD_NS + "h")


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("tdidx"))
    build_index(spark, spark.createDataFrame(gen_pages(N, seed=37)), idx,
                IndexConfig(shard_range=128))
    return idx


def _relayout(src: str, dst: str, sort: bool) -> None:
    """Copy the index to `dst` and rewrite its term_stats with pyarrow:
    rows hash-spread over N_FILES files (as a Spark write leaves them),
    each file either sorted by term or in random order, in row groups of
    ROWS_PER_GROUP rows."""
    shutil.copytree(src, dst)
    ts = IndexCatalog(dst).nearest_table_path("term_stats")
    tbl = IndexCatalog.read_arrow(ts)
    shutil.rmtree(ts)
    os.makedirs(ts)
    rng = np.random.default_rng(7)
    part = rng.integers(0, N_FILES, tbl.num_rows)
    for i in range(N_FILES):
        f = tbl.filter(part == i)
        f = f.sort_by("term") if sort else f.take(
            rng.permutation(f.num_rows))
        pq.write_table(f, os.path.join(ts, f"part-{i:05d}.parquet"),
                       row_group_size=ROWS_PER_GROUP)


WILDCARDS = ("w1*3", "*erm1", "w*0", "*")
REGEXPS = ("w1[0-3]", "w.", "rare.*m1", "w(1|2)0", "w1|rareterm1", ".*3")
FUZZY = (("w1", 1, None), ("w1", 2, None), ("w123", 1, None),
         ("w1", 2, "w1"), ("rareterm", 2, "r"))


def _top(vocab, keep, n=50):
    """top_terms_N over {term: df}: the n highest-df content terms that
    `keep` accepts, ties by term."""
    hits = sorted(((t, d) for t, d in vocab.items()
                   if not t.startswith("\x1f") and keep(t)),
                  key=lambda td: (-td[1], td[0]))
    return [t for t, _ in hits[:n]]


def _fuzzy(vocab, term, d, pre, n=50):
    hits = sorted((damerau_capped(term, t, d), -df, t)
                  for t, df in vocab.items()
                  if not t.startswith("\x1f") and t.startswith(pre or ""))
    return [t for dist, _df, t in hits if dist <= d][:n]


@pytest.mark.parametrize("sort", [True, False], ids=["sorted", "unsorted"])
def test_multi_file_row_groups_match_cached_path(spark, built, tmp_path,
                                                 monkeypatch, sort):
    """Name kept from the two-path engine; the one dictionary path is
    checked against a brute force over the whole table."""
    idx = str(tmp_path / "idx")
    _relayout(built, idx, sort)
    tbl = IndexCatalog.read_arrow(
        IndexCatalog(idx).nearest_table_path("term_stats"))
    vocab = dict(zip(tbl.column("term").to_pylist(),
                     tbl.column("df").to_pylist()))
    eng = SearchEngine(spark, idx)
    groups = eng.termdict._groups
    assert len({g[0] for g in groups}) == N_FILES
    assert len(groups) > 2 * N_FILES  # several row groups per file

    probe = sorted(vocab)[::97] + ["zzznope", "w1", URL_FIELD_NS + "https",
                                   URL_FIELD_NS + "zzznope", "\x1f", ""]
    want = {t: vocab[t] for t in probe if t in vocab}
    assert URL_FIELD_NS + "https" in want and "zzznope" not in want
    assert eng.term_dfs(probe) == want
    for t in probe:
        assert eng.term_dfs([t]) == ({t: vocab[t]} if t in vocab else {}), t
    for p in PREFIXES:
        under = sorted((t, d) for t, d in vocab.items() if t.startswith(p))
        by_df = [t for t, _ in sorted(under, key=lambda td: (-td[1], td[0]))]
        assert eng.expand_prefix(p) == by_df[:50], p
        assert eng.expand_prefix(p, 3) == by_df[:3], p
        assert eng.expand_prefix_alpha(p) == [t for t, _ in under][:50], p
    assert eng.suggest("w1", 7) == [
        (t, vocab[t]) for t in eng.expand_prefix("w1", 7)]
    assert eng.vocab_size() == sum(
        1 for t in vocab if not t.startswith("\x1f"))

    for pat in WILDCARDS:
        rx = re.compile(
            "^" + ".*".join(re.escape(p) for p in pat.split("*")) + "$")
        want = _top(vocab, rx.match)
        assert want, pat
        assert eng.expand_wildcard(pat) == want, pat
        assert eng.expand_wildcard(pat, 3) == want[:3], pat
    for pat in REGEXPS:
        rx = re.compile(f"^(?:{pat})$")
        want = _top(vocab, rx.match)
        assert want, pat
        assert eng.expand_regexp(pat) == want, pat
        assert eng.expand_regexp(pat, 3) == want[:3], pat
    for term, d, pre in FUZZY:
        want = _fuzzy(vocab, term, d, pre)
        assert want, (term, d, pre)
        assert eng.expand_fuzzy(term, d, prefix=pre) == want
        assert eng.expand_fuzzy(term, d, 3, prefix=pre) == want[:3]

    reads = []
    real_read = TermDictionary._read

    def spy(self, groups):
        reads.append(len(groups))
        return real_read(self, groups)

    monkeypatch.setattr(TermDictionary, "_read", spy)
    eng.termdict.dfs(["w1"])
    if sort:
        assert reads[0] <= N_FILES  # one candidate group per file at most
    else:
        assert reads[0] > N_FILES  # unsorted groups span the alphabet
    # every sweep reads one row group per read, whatever it visits
    for sweep in (lambda: eng.expand_prefix("w"),
                  lambda: eng.expand_wildcard("*erm1"),
                  lambda: eng.expand_regexp(".*3"),
                  lambda: eng.expand_fuzzy("w1", 2),
                  lambda: eng.expand_fuzzy("w1", 2, prefix="w1")):
        reads.clear()
        sweep()
        assert reads and set(reads) == {1}


def test_builder_writes_sorted_files(built):
    ts = IndexCatalog(built).nearest_table_path("term_stats")
    files = sorted(glob.glob(os.path.join(ts, "*.parquet")))
    assert files
    for f in files:
        terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms)
    d = TermDictionary(ts)
    assert d.num_rows == sum(pq.ParquetFile(f).metadata.num_rows
                             for f in files)
    assert all(g[2] is not None for g in d._groups)  # footer min/max kept


def test_uncached_lookups_submit_no_spark_job(spark, built):
    """Engine construction (after one warm engine — the per-application
    warm-up job runs once) and every dictionary lookup and sweep submit
    no Spark job. The name is kept from the two-path engine."""
    SearchEngine(spark, built)
    sc = spark.sparkContext
    group = "termdict-no-job"
    sc.setJobGroup(group, "driver-side dictionary lookups")
    try:
        eng = SearchEngine(spark, built)
        assert eng.term_dfs(["w1", "zzznope"])
        assert eng.expand_prefix("w1")
        assert eng.expand_prefix_alpha("w1")
        assert eng.suggest("w1", 5)
        assert eng.vocab_size() > 0
        assert eng.expand_wildcard("w1*3")
        assert eng.expand_wildcard("*erm1")
        assert eng.expand_regexp("w1[0-3]")
        assert eng.expand_fuzzy("w123", 1)
        assert eng.suggest_term("w1x", 5, prefix_length=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _vocab(idx):
    tbl = IndexCatalog.read_arrow(
        IndexCatalog(idx).nearest_table_path("term_stats"))
    return dict(zip(tbl.column("term").to_pylist(),
                    tbl.column("df").to_pylist()))


def test_prefix_top_n_matches_brute_force(spark, built):
    """expand_prefix / expand_prefix_alpha fold the prefix scan into a
    running top n: the answers equal a brute force over the whole table
    for short prefixes and capped n."""
    vocab = _vocab(built)
    eng = SearchEngine(spark, built)
    for p in ("w", "w1", ""):
        under = sorted((t, d) for t, d in vocab.items() if t.startswith(p))
        by_df = [t for t, _ in sorted(under, key=lambda td: (-td[1], td[0]))]
        assert len(under) > 50, p
        for n in (0, 1, 7, 50, len(under) + 5):
            assert eng.expand_prefix(p, n) == by_df[:n], (p, n)
            assert eng.expand_prefix_alpha(p, n) == \
                [t for t, _ in under][:n], (p, n)


def test_fuzzy_histogram_bound_matches_brute_force(spark, built,
                                                   monkeypatch):
    """The character-histogram lower bound only drops rows the OSA
    kernel would reject: expand_fuzzy and suggest_term equal a brute
    force with damerau_capped, while fewer rows reach the kernel than
    the length band holds."""
    import picdexer_spark.query.bm25 as bm25

    vocab = _vocab(built)
    eng = SearchEngine(spark, built)
    cases = [(t, d, pre) for t in ("w1", "w123", "w45", "rareterm7", "w1x")
             for d in (1, 2) for pre in (None, t[:1], t[:2])]
    for term, d, pre in cases:
        want = _fuzzy(vocab, term, d, pre)
        assert eng.expand_fuzzy(term, d, prefix=pre) == want, (term, d, pre)
        assert eng.expand_fuzzy(term, d, 3, prefix=pre) == want[:3]
    for t, size, pl, mode in (("w1x", 5, 1, "missing"),
                              ("w12", 5, 0, "always"),
                              ("w12", 3, 1, "popular"),
                              ("rareterm7x", 4, 2, "missing")):
        in_df = vocab.get(t, 0)
        cands = [c for c in _fuzzy(vocab, t, 2, t[:pl] or None,
                                   max(50, size * 10)) if c != t]
        hits = sorted((damerau_capped(t, c, 2), -vocab[c], c) for c in cands
                      if mode != "popular" or vocab[c] > in_df)
        want = [] if mode == "missing" and in_df else \
            [(c, -ndf, dd) for dd, ndf, c in hits[:size]]
        assert eng.suggest_term(t, size, prefix_length=pl,
                                suggest_mode=mode) == want, t

    rows = []
    real = bm25.osa_distances

    def spy(term, mat, lens):
        rows.append(mat.shape[0])
        return real(term, mat, lens)

    monkeypatch.setattr(bm25, "osa_distances", spy)
    assert eng.expand_fuzzy("w123", 2)
    band = sum(1 for t in vocab
               if not t.startswith("\x1f") and 2 <= len(t) <= 6)
    assert 0 < sum(rows) < band / 2
