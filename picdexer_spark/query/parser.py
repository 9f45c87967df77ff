"""kuery-lite query-string parser for the discover search box.

The reference's discover panel (internal/setup/assets/kibana.ndjson:8)
feeds a Kibana kuery string to ES. The subset picdexer users actually type
over an analyzed text field: bare words (OR semantics, kuery's default for
analyzed matches), `AND`-joined words (conjunction), one whole-query quoted
phrase, and — via :func:`parse_kuery` — `field:value` exact-match filters
(the `lang:en` construct) ANDed with the scored text query. Anything the
subset cannot represent faithfully (mixed AND/OR, parentheses, nested
quotes) is refused rather than guessed.

Every bare word goes through the SAME analyzer as indexed text
(functions/tokenize.py), so `Batch,` matches the indexed term `batch` —
query-side and index-side analysis agree, the Lucene contract. Filter
VALUES are passed through verbatim with their QUOTEDNESS recorded (ops
'=q'/'!=q' for quoted values): the ENGINE decides per field whether a
qualifier is analyzed — on fields declared text-analyzed
(SearchEngine.analyzed_fields, mirroring the reference's text+.keyword
multi-field mapping, picdexer.json:7-96) `field:value` is an any-token
match and `field:"value"` a match_phrase, while `field.keyword:value`
(accepted here as a field-name suffix) and every non-analyzed field stay
exact keyword matches.

`NOT field:value` negates a filter (ES must_not — docs missing the field
match), and `field >= value` / `<=` / `>` / `<` (space-separated, KQL
range syntax) become typed range filters (the discover time-picker
construct over `warc_ts`). Both are filter-context only.

Trailing-`*` words (`mach*`) are PREFIX terms (kuery/ES prefix query):
the parser emits the analyzed stem with the `*` kept (`mach*`); the
engine expands it against the term dictionary (Lucene `top_terms_N`
rewrite — see SearchEngine.expand_prefix). Prefixes are OR-context only:
with `AND` or inside a phrase they are refused, not guessed. A bare `*`
is kuery match-all — it contributes no scored term (so `lang:en *` is
the filter-only constant-score path). A `*` anywhere else in a word
(`te*st`, `*fix` — the KQL value wildcard) is a WILDCARD term (round 5):
unanalyzed beyond lowercasing, dictionary-charset + stars only,
OR-context only; the engine expands it against the term dictionary
(SearchEngine.expand_wildcard, the same top_terms_N scoring_boolean
rewrite as prefix).
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.compute as pc

from picdexer_spark.functions.tokenize import tokenize_py

_OPS = ("AND", "OR")

_FIELD_RE = re.compile(
    r"^([A-Za-z_][A-Za-z0-9_]*(?:\.keyword)?):(.+)$", re.DOTALL
)
# a qualifier may glue a QUOTED value (with spaces) to the field name:
# `url:"doc x"` must stay ONE token (the plain \S+ branch would split it
# at the space and the dangling quote would be refused downstream)
_TOKEN_RE = re.compile(r'[^\s":]+:"[^"]*"|"[^"]*"|\S+')


_FUZZY_RE = re.compile(r"^(.*?)~([12]?)$", re.DOTALL)
_WILDCARD_RE = re.compile(r"^[a-z0-9*]+$")
_BOOST_RE = re.compile(r"^(.+)\^(\d+(?:\.\d+)?)$", re.DOTALL)
# Lucene regexp charset subset that the engine's regexp sweep (RE2, via
# pyarrow) reads the way Lucene does: literals, char classes,
# alternation, grouping, ., *, +, ?, {m} / {m,} / {m,n}
_REGEXP_BODY_RE = re.compile(r"^[a-z0-9.*+?|()\[\]{},\-]+$")
#: the only brace forms: a counted repetition (RE2 reads any other brace
#: — `{,n}`, `{`, `{}` — as a literal, Lucene has no `{,n}` form)
_REGEXP_REPEAT_RE = re.compile(r"\{\d+(?:,\d*)?\}")
#: a one-row column to compile a regexp body against: RE2 validates the
#: pattern only when there is a row to run it on
_RE2_PROBE = pa.array([""], pa.string())


def _analyze_words(words: list[str], mode: str) -> list[str]:
    """Analyze scored words; trailing-`*` words become `stem*` prefix
    terms, trailing `~`/`~1`/`~2` words become `stem~d` fuzzy terms (ES
    query_string fuzziness). A bare `~` is ES fuzziness AUTO — edit
    budget from the ANALYZED stem length, the AUTO:3,6 ladder: stems
    shorter than 3 chars must match exactly (the marker drops, the term
    stays), 3-5 chars allow 1 edit, 6+ allow 2 — matching the ES
    query_string `fuzziness` default (AUTO), not classic Lucene's bare-~
    =2. Both are OR-context only. A bare `*` is match-all (drops
    out); any other `*`/`~` placement is refused — the analyzer would
    strip the marker and silently search the stem exactly."""
    terms: list[str] = []
    for w in words:
        if w == "*":
            continue  # kuery match-all: no scored term
        if "^" in w:
            # query_string per-term boost (`spark^2`, `spark^0.5`): the
            # boosted word is analyzed like any bare word; the marker
            # survives as `term^N` and the engine folds it into the
            # term's idf (Lucene BoostQuery — boost scales the weight,
            # so block-max pruning stays exact). Plain single-token
            # words only: a boost glued to a prefix/wildcard/fuzzy/
            # regexp marker is refused, not guessed.
            m = _BOOST_RE.match(w)
            if not m or "^" in m.group(1):
                raise ValueError(
                    f"unsupported boost syntax {w!r} (use word^N)"
                )
            stem_part, boost = m.groups()
            if float(boost) <= 0:
                raise ValueError(f"boost must be > 0 ({w!r})")
            if any(c in stem_part for c in "*~") or (
                    stem_part.startswith("/") and stem_part.endswith("/")):
                raise ValueError(
                    "boosts are only supported on plain analyzed words"
                )
            stem = tokenize_py(stem_part)
            if len(stem) != 1:
                raise ValueError(
                    f"boosted word {w!r} must analyze to exactly one term"
                )
            terms.append(f"{stem[0]}^{boost}")
            continue
        if len(w) >= 3 and w.startswith("/") and w.endswith("/"):
            # ES query_string regexp term (`/sp[ae]rk/`, `/batc.+/`):
            # the pattern is NOT analyzed (Lucene regexp contract —
            # lowercased only) and implicitly anchored to the whole
            # term; the engine expands it against the term dictionary
            # (SearchEngine.expand_regexp, the same top_terms_N
            # scoring_boolean rewrite as prefix/wildcard). OR-context
            # only. The charset is a Lucene subset (no anchors/backrefs/
            # escapes); braces must be counted repetitions, and the body
            # must compile under RE2 — the engine that runs it, which
            # also refuses stacked quantifiers (`*+`, `++`, `?+`).
            if mode != "disjunctive":
                raise ValueError(
                    "regexp terms are only supported in OR context"
                )
            body = w[1:-1].lower()
            if not _REGEXP_BODY_RE.match(body):
                raise ValueError(
                    f"regexp {w!r} uses characters outside the supported "
                    "subset (lowercase literals and . * + ? | ( ) [ ] "
                    "{ } , -)"
                )
            if re.search(r"[{}]", _REGEXP_REPEAT_RE.sub("", body)):
                raise ValueError(
                    f"regexp {w!r}: a brace must open a counted "
                    "repetition {m}, {m,} or {m,n}"
                )
            try:
                pc.match_substring_regex(_RE2_PROBE, pattern=body)
            except pa.ArrowInvalid as e:
                raise ValueError(f"bad regexp {w!r}: {e}") from None
            terms.append(f"/{body}/")
            continue
        if w.endswith("*") and "*" not in w[:-1]:
            if mode != "disjunctive":
                raise ValueError(
                    "prefix terms are only supported in OR context"
                )
            stem = tokenize_py(w[:-1])
            if len(stem) != 1:
                raise ValueError(
                    f"prefix {w!r} must analyze to exactly one term"
                )
            terms.append(stem[0] + "*")
        elif "*" in w:
            # KQL value wildcard (`te*st`, `*fix`, `fo*a*r`): the pattern
            # is NOT analyzed (Lucene wildcard contract — lowercased
            # only), so it must already be one clean dictionary-charset
            # token with stars. OR-context only, like prefix/fuzzy; the
            # engine expands it against the term dictionary
            # (SearchEngine.expand_wildcard, top_terms_N + scoring
            # boolean — the same documented rewrite as prefix).
            if mode != "disjunctive":
                raise ValueError(
                    "wildcard terms are only supported in OR context"
                )
            pat = w.lower()
            if not _WILDCARD_RE.match(pat):
                raise ValueError(
                    f"wildcard {w!r} must be letters/digits and `*` only"
                )
            if not pat.strip("*"):
                raise ValueError(
                    f"wildcard {w!r} has no literal characters "
                    "(bare `*` is match-all)"
                )
            terms.append(pat)
        elif "~" in w:
            m = _FUZZY_RE.match(w)
            if not m or "~" in m.group(1) or not m.group(1):
                raise ValueError(
                    f"unsupported fuzzy syntax {w!r} (use word~, word~1 "
                    "or word~2)"
                )
            if mode != "disjunctive":
                raise ValueError(
                    "fuzzy terms are only supported in OR context"
                )
            stem = tokenize_py(m.group(1))
            if len(stem) != 1:
                raise ValueError(
                    f"fuzzy {w!r} must analyze to exactly one term"
                )
            if m.group(2):
                terms.append(f"{stem[0]}~{m.group(2)}")
            else:
                # ES fuzziness AUTO (AUTO:3,6) over the analyzed stem
                auto = 0 if len(stem[0]) < 3 else (
                    1 if len(stem[0]) < 6 else 2)
                terms.append(stem[0] if auto == 0
                             else f"{stem[0]}~{auto}")
        else:
            terms.extend(tokenize_py(w))
    return terms


def _phrase_inner(inner: str) -> tuple[list[str], str]:
    """Analyze the inside of a quoted phrase. A single TRAILING `*` glued
    to the last word makes it a match_phrase_prefix (`"part fil*"` —
    mode 'phrase_prefix', last token = the stem); any other `*`/`~`
    placement inside a phrase is refused, not guessed."""
    if inner.endswith("*"):
        stem_part = inner[:-1]
        if not stem_part or stem_part[-1].isspace():
            raise ValueError(
                'a phrase prefix needs the `*` glued to the last word '
                '("part fil*")'
            )
        if "*" in stem_part or "~" in stem_part or "^" in stem_part:
            raise ValueError(
                "wildcards/fuzzy/boosts inside a phrase are not supported"
            )
        toks = tokenize_py(stem_part)
        if not toks:
            raise ValueError("phrase prefix analyzed to no tokens")
        return toks, "phrase_prefix"
    if "*" in inner or "~" in inner or "^" in inner:
        raise ValueError(
            "wildcards/fuzzy/boosts inside a phrase are not supported"
        )
    return tokenize_py(inner), "phrase"


def parse_query_string(q: str) -> tuple[list[str], str]:
    """'a b' -> ([a, b], disjunctive); 'a AND b' -> ([a, b], conjunctive).

    Returns (analyzed terms, mode). Raises ValueError on constructs outside
    the supported subset (mixed operators, parentheses, field:value).
    """
    if q is None or not q.strip():
        return [], "disjunctive"
    if any(ch in q for ch in "():<>="):
        raise ValueError(
            "unsupported query-string construct (parentheses/field "
            "qualifier/range — use parse_kuery for qualifiers and ranges)"
        )
    if any(w.upper() == "NOT" for w in q.split()):
        raise ValueError(
            "NOT is only supported before a field:value qualifier "
            "(parse_kuery)"
        )
    stripped = q.strip()
    if '"' in stripped:
        # kuery quoted phrase: the WHOLE query must be one quoted phrase
        # (mixing phrases with bare terms is outside the supported subset —
        # refuse rather than silently degrade a phrase to OR terms)
        if (stripped.startswith('"') and stripped.endswith('"')
                and '"' not in stripped[1:-1] and len(stripped) >= 2):
            toks, mode = _phrase_inner(stripped[1:-1])
            return toks, mode
        raise ValueError("quotes are only supported as one whole-query phrase")
    raw = q.split()
    ops = {w.upper() for w in raw if w.upper() in _OPS}
    if ops == {"AND"}:
        mode = "conjunctive"
    elif ops <= {"OR"}:
        mode = "disjunctive"
    else:
        raise ValueError("mixed AND/OR is not supported by kuery-lite")
    words = [w for w in raw if w.upper() not in _OPS]
    return _analyze_words(words, mode), mode


_RANGE_OPS = (">=", "<=", ">", "<")
_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _unquote_value(v: str, tok: str) -> str:
    return _unquote_value2(v, tok)[0]


def _unquote_value2(v: str, tok: str) -> tuple[str, bool]:
    """Strip optional quotes; also report WHETHER the value was quoted.
    Quotedness is semantic on text-analyzed fields (the ES KQL contract:
    `field:value` on a `text` field is a match query — any analyzed
    token — while `field:"value"` is a match_phrase), so qualifier ops
    carry it as '=q'/'!=q'; keyword fields treat both identically."""
    quoted = v.startswith('"') and v.endswith('"') and len(v) >= 2
    if quoted:
        v = v[1:-1]
    if '"' in v:
        raise ValueError(f"unsupported filter value in {tok!r}")
    if "*" in v:
        # keyword filters are exact-match; a wildcard value would
        # silently match nothing — refuse rather than guess
        raise ValueError(
            f"wildcards in filter values are not supported ({tok!r})"
        )
    return v, quoted


def _match_qualifier(tok: str):
    return None if tok.startswith('"') else _FIELD_RE.match(tok)


def _qual_leaf(f: str, v: str, tok: str,
               negate: bool = False) -> tuple[str, str, str | None]:
    """`field:value` -> one filter leaf. A bare UNQUOTED `*` value is the
    KQL exists query (`field:*` — docs where the field is non-null;
    `NOT field:*` = the ES must_not/missing form). Anything else goes
    through the exact/analyzed value path with quotedness preserved."""
    if v == "*":
        return (f, "!exists" if negate else "exists", None)
    val, quoted = _unquote_value2(v, tok)
    if negate:
        return (f, "!=q" if quoted else "!=", val)
    return (f, "=q" if quoted else "=", val)


def parse_kuery(q: str) -> tuple[list[str], str, list[tuple[str, str, str]]]:
    """Full kuery-lite: 'lang:en batch OR vector' ->
    ([batch, vector], disjunctive, [(lang, '=', en)]).

    Filters are (field, op, value) 3-tuples ANDed with each other and with
    the scored text part (the kuery top-level-AND convention):
    - `field:value`            -> (field, '=',  value)   exact keyword match
    - `NOT field:value`        -> (field, '!=', value)   ES must_not — docs
      MISSING the field match too (null-safe inequality engine-side)
    - `field >= value` (also <=, >, <; space-separated, the KQL range
      syntax)                  -> (field, '>=', value)
    The remaining bare words follow :func:`parse_query_string` rules, or
    may be one quoted phrase. Values may be quoted (`lang:"en"`,
    `warc_ts >= "2024-01-01 00:00:00"`). Raises ValueError on parentheses,
    nested/mixed quoting, mixed AND/OR, `NOT` anywhere but before a
    qualifier, glued range syntax (`f>=v`), or a dangling range operator —
    each of these would otherwise silently analyze into scored terms.
    """
    if q is None or not q.strip():
        return [], "disjunctive", []
    if "(" in q or ")" in q:
        raise ValueError(
            "parentheses are not supported by kuery-lite "
            "(use parse_kuery_tree for boolean grouping)"
        )
    toks = _TOKEN_RE.findall(q.strip())
    filters: list = []
    rest: list[str] = []
    i = 0
    _last_filter_end = -1  # token index just past the latest plain qualifier
    while i < len(toks):
        t = toks[i]
        if (not t.startswith('"') and t.upper() == "OR"
                and filters and i == _last_filter_end):
            # `lang:en OR lang:de` — an OR IMMEDIATELY after a qualifier
            # alternates FILTERS, not scored terms (without this the OR
            # token would fall into the scored remainder and the two
            # qualifiers would silently AND — matching nothing). The next
            # construct must be another qualifier; chains fold into one
            # ('or', [leaf, ...]) filter entry. `word OR qualifier` stays
            # the pinned flat convention (filter ANDed, words OR'd).
            m2 = _match_qualifier(toks[i + 1]) if i + 1 < len(toks) else None
            if not m2:
                raise ValueError(
                    "OR after a field qualifier must be followed by "
                    "another field:value qualifier (use parentheses to "
                    "group scored terms with filters)"
                )
            f, v = m2.groups()
            leaf = _qual_leaf(f, v, toks[i + 1])
            prev = filters[-1]
            if len(prev) == 2 and isinstance(prev[1], list):
                prev[1].append(leaf)
            else:
                filters[-1] = ("or", [prev, leaf])
            i += 2
            _last_filter_end = i
            continue
        if not t.startswith('"') and t.upper() == "NOT":
            m2 = _match_qualifier(toks[i + 1]) if i + 1 < len(toks) else None
            if not m2:
                raise ValueError(
                    "NOT is only supported before a field:value qualifier "
                    '(to search the word "not", quote it as a phrase)'
                )
            f, v = m2.groups()
            filters.append(_qual_leaf(f, v, toks[i + 1], negate=True))
            i += 2
            continue
        if i + 1 < len(toks) and toks[i + 1] in _RANGE_OPS:
            # KQL range: `field >= value` (three space-separated tokens)
            if i + 2 >= len(toks):
                raise ValueError(f"dangling range operator after {t!r}")
            if not _NAME_RE.match(t):
                raise ValueError(f"bad range filter field {t!r}")
            filters.append((t, toks[i + 1], _unquote_value(toks[i + 2],
                                                           toks[i + 2])))
            i += 3
            continue
        m = _match_qualifier(t)
        if m is None and ":" in t and not t.startswith('"'):
            # `lang:` / `:foo` — a malformed qualifier would otherwise be
            # ANALYZED into a scored term (the ':' strips silently); refuse
            raise ValueError(f"malformed field qualifier {t!r}")
        if m:
            f, v = m.groups()
            filters.append(_qual_leaf(f, v, t))
            _last_filter_end = i + 1
        else:
            if not t.startswith('"') and any(ch in t for ch in "<>="):
                # `f>=v` glued — the analyzer would strip the operator and
                # score `f`/`v` as terms; refuse (ranges must be spaced)
                raise ValueError(
                    f"range operators must be space-separated ({t!r})"
                )
            rest.append(t)
        i += 1
    if any('"' in t for t in rest):
        # the scored remainder may be exactly ONE whole quoted phrase,
        # optionally followed by `~N` — the Lucene query_string sloppy
        # phrase syntax ("a b"~2). The mode string carries the slop
        # ("phrase~2") so the 3-tuple return stays stable.
        slop = 0
        if (len(rest) == 2 and rest[0].startswith('"')
                and re.fullmatch(r"~\d+", rest[1])):
            slop = int(rest[1][1:])
            rest = rest[:1]
        if len(rest) != 1 or not (
            rest[0].startswith('"') and rest[0].endswith('"')
            and '"' not in rest[0][1:-1] and len(rest[0]) >= 2
        ):
            raise ValueError(
                "quotes are only supported as one whole quoted phrase"
            )
        toks, pmode = _phrase_inner(rest[0][1:-1])
        if pmode == "phrase_prefix":
            if slop:
                raise ValueError(
                    "slop is not supported with a phrase prefix"
                )
            return toks, "phrase_prefix", filters
        mode = "phrase" if slop == 0 else f"phrase~{slop}"
        return toks, mode, filters
    ops = {w.upper() for w in rest if w.upper() in _OPS}
    if ops == {"AND"}:
        mode = "conjunctive"
    elif ops <= {"OR"}:
        mode = "disjunctive"
    else:
        raise ValueError(
            "mixed AND/OR is not supported without parentheses "
            "(group clauses explicitly: `(a OR b) AND c`)"
        )
    words = [w for w in rest if w.upper() not in _OPS]
    return _analyze_words(words, mode), mode, filters


# --------------------------------------------------------------------------
# boolean kuery: parentheses + explicit AND/OR over terms and filters
# --------------------------------------------------------------------------

_TREE_TOKEN_RE = re.compile(
    r'[^\s"():]+:"[^"]*"|"[^"]*"|\(|\)|[^\s()]+'
)


def parse_kuery_tree(q: str):
    """Boolean kuery with parentheses: `(lang:en OR lang:de) AND spark`,
    `(a OR b) AND c AND (d OR e)`, `NOT (lang:en OR lang:de)`, nested
    parens. Returns ``(groups, filter_ast)``:

    - ``groups``: CNF scored clauses — list of disjunction-groups of
      analyzed terms (prefix `stem*` / fuzzy `stem~d` markers preserved;
      the engine expands them within their group, the Lucene rewrite
      contract). A doc must match every group; score = BM25 sum over all
      matched terms (Lucene MUST-of-SHOULD-groups, coord-less).
    - ``filter_ast``: boolean tree over filter leaves — ('and', [...]),
      ('or', [...]), ('not', node), ('leaf', (field, op, value)) — or
      None. Compiles to ONE docs-table condition engine-side.

    Grammar: OR (and bare adjacency, the Lucene query_string
    default_operator=OR) binds loosest, AND tighter, NOT tightest; parens
    override. Shapes whose ES scoring the CNF sum cannot reproduce are
    REFUSED, never guessed: AND inside an OR group of scored terms (DNF
    re-association changes Lucene's per-clause sums), an OR mixing a
    filter with scored terms (constant-score SHOULD), NOT over scored
    terms, quoted phrases inside groups, duplicate terms across groups.
    """
    if q is None or not q.strip():
        return [], None
    toks = _TREE_TOKEN_RE.findall(q.strip())
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def is_op(t, *names):
        return t is not None and not t.startswith('"') and t.upper() in names

    def parse_expr():
        children = [parse_and()]
        while True:
            t = peek()
            if t is None or t == ")":
                break
            if is_op(t, "OR"):
                take()
            children.append(parse_and())
        return children[0] if len(children) == 1 else ("or", children)

    def parse_and():
        children = [parse_atom()]
        while is_op(peek(), "AND"):
            take()
            children.append(parse_atom())
        return children[0] if len(children) == 1 else ("and", children)

    def parse_atom():
        t = peek()
        if t is None:
            raise ValueError("dangling operator at end of query")
        if t == "(":
            take()
            node = parse_expr()
            if peek() != ")":
                raise ValueError("unbalanced parentheses")
            take()
            return node
        if t == ")":
            raise ValueError("unbalanced parentheses")
        if is_op(t, "NOT"):
            take()
            return ("not", parse_atom())
        if is_op(t, "AND", "OR"):
            raise ValueError(f"dangling operator {t!r}")
        return parse_leaf()

    def parse_leaf():
        t = take()
        if t.startswith('"'):
            raise ValueError(
                "quoted phrases are not supported inside boolean groups "
                "(a phrase must be the whole query)"
            )
        if peek() in _RANGE_OPS:
            op = take()
            v = peek()
            if v is None or v in ("(", ")"):
                raise ValueError(f"dangling range operator after {t!r}")
            if not _NAME_RE.match(t):
                raise ValueError(f"bad range filter field {t!r}")
            take()
            return ("filter", (t, op, _unquote_value(v, v)))
        m = _match_qualifier(t)
        if m is None and ":" in t:
            raise ValueError(f"malformed field qualifier {t!r}")
        if m:
            f, v = m.groups()
            return ("filter", _qual_leaf(f, v, t))
        if any(ch in t for ch in "<>="):
            raise ValueError(
                f"range operators must be space-separated ({t!r})"
            )
        return ("word", t)

    root = parse_expr()
    if pos != len(toks):
        raise ValueError("unbalanced parentheses")
    return _compile_tree(root)


def _flatten_node(node):
    h = node[0]
    if h in ("and", "or"):
        out = []
        for c in node[1]:
            c = _flatten_node(c)
            if c[0] == h:
                out.extend(c[1])
            else:
                out.append(c)
        return (h, out)
    if h == "not":
        return ("not", _flatten_node(node[1]))
    return node


def _is_filter_pure(node):
    h = node[0]
    if h == "filter":
        return True
    if h == "word":
        return False
    if h == "not":
        return _is_filter_pure(node[1])
    return all(_is_filter_pure(c) for c in node[1])


def _is_scored_pure(node):
    h = node[0]
    if h == "word":
        return True
    if h in ("filter", "not"):
        return False
    return all(_is_scored_pure(c) for c in node[1])


def _to_filter_ast(node):
    h = node[0]
    if h == "filter":
        return ("leaf", node[1])
    if h == "not":
        return ("not", _to_filter_ast(node[1]))
    return (h, [_to_filter_ast(c) for c in node[1]])


def _group_of(node):
    """A scored-pure node that must be a flat disjunction -> term list."""
    if node[0] == "word":
        if node[1] == "*":
            raise ValueError(
                "match-all `*` inside an OR group is not supported"
            )
        return _analyze_words([node[1]], "disjunctive")
    if node[0] == "or":
        terms: list[str] = []
        for c in node[1]:
            if c[0] != "word":
                raise ValueError(
                    "AND inside an OR group is not supported (the "
                    "sum-of-matched-clauses score would diverge from a "
                    "CNF rewrite — split the query instead)"
                )
            terms.extend(_group_of(c))
        return terms
    raise ValueError("NOT over scored terms is not supported")


def _compile_tree(root):
    root = _flatten_node(root)
    if _is_filter_pure(root):
        return [], _to_filter_ast(root)
    clauses = root[1] if root[0] == "and" else [root]
    groups: list[list[str]] = []
    fparts = []
    for c in clauses:
        if _is_filter_pure(c):
            fparts.append(_to_filter_ast(c))
        elif _is_scored_pure(c):
            if c[0] == "word":
                # one word may analyze to several tokens ('don't' -> don,
                # t): each is its own required clause, the flat-AND rule
                for t in _analyze_words([c[1]], "disjunctive"):
                    groups.append([t])
            else:
                # dedupe within the group (`a OR a` — flat disjunctive
                # dedupes too); duplicates ACROSS groups stay refused
                g = list(dict.fromkeys(_group_of(c)))
                if g:
                    groups.append(g)
        elif c[0] == "or":
            raise ValueError(
                "OR between a filter and scored terms is not supported "
                "(a filter SHOULD-clause is constant-score in ES — split "
                "the query instead)"
            )
        else:
            raise ValueError("NOT over scored terms is not supported")
    seen: set[str] = set()
    for g in groups:
        for t in g:
            if "^" in t:
                # a boosted clause inside a CNF group would need
                # per-group weight bookkeeping the sum kernel doesn't
                # carry — refuse, not guess (boosts are flat-query only)
                raise ValueError(
                    "boosts are not supported inside boolean groups"
                )
            if t in seen:
                raise ValueError(
                    f"term {t!r} appears in more than one boolean group "
                    "(duplicate scored clauses are refused, not guessed)"
                )
            seen.add(t)
    if len(fparts) == 1:
        fast = fparts[0]
    elif fparts:
        fast = ("and", fparts)
    else:
        fast = None
    return groups, fast


# --------------------------------------------------------------------------
# ES simple_query_string — the FORGIVING parser (never raises; anything
# it can't read degrades to analyzed text or drops, per the ES contract
# "discards any invalid parts"). Reference surface: the Kibana search
# bar falls back to this API when KQL is off.
#
# Supported operators (Lucene SimpleQueryParser): `|` OR, `+` AND,
# `-` negation prefix, `"..."` phrase (with `~N` slop), trailing `*`
# prefix, `~N`/`~` fuzzy (bare `~` = fuzziness AUTO, the ES default
# ladder). PINNED DIVERGENCES (each pytest-pinned): parentheses are not
# grouped, they read as whitespace; mixed-operator precedence is
# normalized to CNF — `|` binds tighter than `+`/whitespace — where
# Lucene folds left-associatively (`a + b | c` is ((a AND b) OR c) in
# Lucene, (a) AND (b OR c) here); a word that analyzes to several
# terms contributes them all to its OR-group rather than building a
# graph query.

_SQS_TOKEN_RE = re.compile(r'"[^"]*"(?:~\d+)?|[^\s|]+|\|')


def _sqs_clause(tok: str):
    """One token -> clause tuple, or None to drop it.

    Clause kinds: ("terms", [t...]) | ("prefix", stem) |
    ("fuzzy", stem, edits) | ("phrase", [t...], slop)."""
    from picdexer_spark.functions.tokenize import tokenize_py

    if tok.startswith('"'):
        body, slop = tok, 0
        m = re.match(r'^("[^"]*")~(\d+)$', tok)
        if m:
            body, slop = m.group(1), int(m.group(2))
        words = tokenize_py(body[1:-1])
        if not words:
            return None
        if len(words) == 1:
            return ("terms", words)
        return ("phrase", words, slop)
    tok = tok.replace("(", " ").replace(")", " ").strip()
    if not tok:
        return None
    m = _FUZZY_RE.match(tok)
    if m and "~" not in m.group(1):
        stem_words = tokenize_py(m.group(1))
        if len(stem_words) == 1:
            stem = stem_words[0]
            d = m.group(2)
            if d in ("1", "2"):
                return ("fuzzy", stem, int(d))
            # bare `~` = ES fuzziness AUTO:3,6 (same ladder as
            # query_string): <3 chars exact, 3-5 one edit, 6+ two
            if len(stem) < 3:
                return ("terms", [stem])
            return ("fuzzy", stem, 1 if len(stem) < 6 else 2)
    if tok.endswith("*") and "*" not in tok[:-1]:
        stem_words = tokenize_py(tok[:-1])
        if len(stem_words) == 1:
            return ("prefix", stem_words[0])
    words = tokenize_py(tok)
    if not words:
        return None
    return ("terms", words)


def parse_simple_query_string(q: str, default_operator: str = "or"):
    """-> (groups, negative) for :meth:`SearchEngine.simple_query_string`.

    `groups` is the CNF clause list (every group must match; a group
    matches when >= 1 member clause matches); `negative` is the flat
    must_not clause list. Never raises on query content."""
    if default_operator not in ("or", "and"):
        raise ValueError("default_operator must be 'or' or 'and'")
    groups: list[list[tuple]] = []
    cur: list[tuple] = []
    negative: list[tuple] = []
    pending_or = False
    for raw in _SQS_TOKEN_RE.findall(q or ""):
        if raw == "|":
            pending_or = True
            continue
        if raw == "+":
            pending_or = False
            if cur:
                groups.append(cur)
                cur = []
            continue
        explicit_and = False
        if raw.startswith("+") and not raw.startswith('+"'):
            raw, explicit_and = raw[1:], True
        neg = False
        if raw.startswith("-") and len(raw) > 1:
            raw, neg = raw[1:], True
        clause = _sqs_clause(raw)
        if clause is None:
            pending_or = False
            continue
        if neg:
            negative.append(clause)
            pending_or = False
            continue
        same_group = pending_or or (
            default_operator == "or" and not explicit_and)
        if same_group and cur:
            cur.append(clause)
        else:
            if cur:
                groups.append(cur)
            cur = [clause]
        pending_or = False
    if cur:
        groups.append(cur)
    return groups, negative


_MSM_COMBO_RE = re.compile(r"^(\d+)<(.+)$")


def _msm_simple(spec: str, n: int) -> int:
    spec = spec.strip()
    if spec.endswith("%"):
        pct = int(spec[:-1])
        if pct < 0:
            return n - (n * -pct) // 100
        return (n * pct) // 100
    v = int(spec)
    return n + v if v < 0 else v


def parse_min_should_match(spec, n_clauses: int) -> int:
    """The ES `minimum_should_match` spec grammar, resolved against the
    query's optional-clause count: positive/negative integers,
    percentages ("75%" floors, "-25%" = total minus that many
    optional), conditional "N<spec" (for <= N clauses ALL are
    required), and space-separated multi-conditions (the clause with
    the largest N below the count applies). The result is clamped to
    [1, n_clauses]: the kernels iterate the disjunction, so a doc
    matching zero terms never qualifies even at msm 0 (same pin as
    terms_set)."""
    if isinstance(spec, int):
        return spec
    parts = str(spec).split()
    if not parts or n_clauses <= 0:
        raise ValueError(f"bad minimum_should_match {spec!r}")
    if len(parts) == 1 and not _MSM_COMBO_RE.match(parts[0]):
        got = _msm_simple(parts[0], n_clauses)
    else:
        best_n, got = None, n_clauses  # n <= smallest N -> all required
        for part in parts:
            m = _MSM_COMBO_RE.match(part)
            if not m:
                raise ValueError(
                    f"bad minimum_should_match condition {part!r}")
            edge = int(m.group(1))
            if n_clauses > edge and (best_n is None or edge > best_n):
                best_n, got = edge, _msm_simple(m.group(2), n_clauses)
    return max(1, min(got, n_clauses))
