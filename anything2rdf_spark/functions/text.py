"""Text scalar kernel (SURVEY §2.4 F1-F11, F21-F27).

Native Column expressions wherever possible, Unicode NFC included (a JVM
call into the ICU4J that ships with Spark). The one Python piece left is
the large-dictionary mention scan, an Arrow-vectorized pandas UDF operating
on whole batches — never a per-row Python UDF (input_hint mandate).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def wordcount(text: Column | str) -> Column:
    """Count of whitespace runs — the reference counts *separators*
    (``"\\s+".r.findAllIn(t).length``, OBCXML2RDF.scala:210), i.e. tokens-1;
    must match exactly for P/R. Null text → null."""
    t = _c(text)
    return (F.size(F.split(t, r"\s+")) - F.lit(1)).cast("int")


def multi_value_split(col: Column | str, sep_regex: str = r"[,;\n|]") -> Column:
    """Split a multi-valued field, trim, drop empties — the reference's
    pervasive ``split(...).map(_.trim).filter(!_.isEmpty)``
    (EMLOCSV2RDF.scala:200,318,398-399; FBTEETSV2RDF.scala:328-334).
    Returns array<string>; pair with ``F.explode``."""
    return F.filter(
        F.transform(F.split(_c(col), sep_regex), lambda x: F.trim(x)),
        lambda x: x != "",
    )


def punct_trim(col: Column | str) -> Column:
    """Strip non-alphanumeric prefix/suffix (HelmetMARC2ISBNRDF.scala:57-63).
    ``(?s)`` makes '.' cross newlines: without it an interior ``\\n`` made
    the anchored pattern unmatched and regexp_extract returned '' —
    destroying the whole value instead of trimming it."""
    return F.regexp_extract(_c(col), r"(?s)^[^\p{L}\p{N}]*(.*?)[^\p{L}\p{N}]*$", 1)


def strip_wiki_markup(col: Column | str) -> Column:
    """Unwrap ``[[target|label]]`` / ``[[target]]`` wiki links and drop bold
    quotes (ttpxml2rdf.scala:30-32)."""
    out = F.regexp_replace(_c(col), r"\[\[[^\]|]*\|([^\]]*)\]\]", r"$1")
    out = F.regexp_replace(out, r"\[\[([^\]]*)\]\]", r"$1")
    return F.regexp_replace(out, "'''?", "")


def expand_abbreviations(col: Column | str, abbrevs: dict[str, str]) -> Column:
    """Fold a regex dictionary over text — mention normalization
    (grandtourcsv2rdf.scala:45-46, 91-93: ``\\bABBR(?=\\s|$)`` → expansion).
    Generated as a chain of native ``regexp_replace`` (JVM-side), one per
    dictionary entry — fine for small dictionaries; use
    ``mention_scan_udf`` for large ones."""
    out = _c(col)
    for abbr, expansion in abbrevs.items():
        out = F.regexp_replace(out, rf"\b{re.escape(abbr)}(?=\s|$)", expansion)
    return out


def zero_pad_id(col: Column | str, width: int = 8) -> Column:
    """Pad an id to fixed width (SDFBCSV2RDF.scala:251)."""
    return F.lpad(_c(col).cast("string"), width, "0")


def extract_embedded_ids(col: Column | str) -> Column:
    """All ``(1234)``-style ids embedded in a list string
    (SDFBCSV2RDF.scala:249). Returns array<string>."""
    return F.regexp_extract_all(_c(col), F.lit(r"\((\d+)\)"), 1)


def yn_bool(col: Column | str) -> Column:
    """Y/N → boolean literal (ceectsv2rdf.scala:176-177); other → null."""
    c = _c(col)
    return F.when(c == "Y", F.lit(True)).when(c == "N", F.lit(False)).otherwise(
        F.lit(None).cast("boolean")
    )


def drop_sentinels(col: Column | str, sentinels: list[str] | None = None) -> Column:
    """P2: sentinel-value guard — NULL out the reference's junk markers
    ('N', '99', '0', 'xxxx', 'n.pl.', 'n.d.', '?'; FBTEETSV2RDF.scala:214-220,
    333-344). Compose with ANE filters before emission."""
    s = sentinels if sentinels is not None else ["N", "99", "0", "xxxx", "n.pl.", "n.d.", "?"]
    c = _c(col)
    return F.when(F.trim(c).isin(s), F.lit(None).cast("string")).otherwise(c)


def wikipedia_to_dbpedia(col: Column | str) -> Column:
    """F24: URL-rewrite linking — wikipedia article URL → DBpedia resource
    IRI for owl:sameAs emission (procopecsv2rdf.scala:163)."""
    return F.regexp_replace(
        _c(col), r"^https?://[a-z]*\.?wikipedia\.org/wiki/", "http://dbpedia.org/resource/"
    )


def normalize_statute_id(col: Column | str) -> Column:
    """F25: statute id normalization — ':' → '/' (FinlexXML2RDF.scala:38-40)
    plus law-link zero-strip/reorder (ttpxml2rdf.scala:84: '14.6.1928/0161'
    style refs → '1928/161' ids)."""
    c = F.regexp_replace(_c(col), ":", "/")
    return F.regexp_replace(c, r"^(?:\d{1,2}\.\d{1,2}\.)?(\d{4})/0*(\d+)$", r"$1/$2")


# F26: language-code maps — name→ISO 639 and MARC bibliographic→ISO 639-1
# (FBTEETSV2RDF.scala:131-161; ttpxml2rdf.scala:64-72; HelmetMARC2ISBNRDF.scala:74-78)
LANGUAGE_NAME_TO_ISO = {
    "English": "en", "French": "fr", "German": "de", "Italian": "it",
    "Spanish": "es", "Latin": "la", "Dutch": "nl", "Finnish": "fi",
    "Swedish": "sv", "Russian": "ru", "Greek": "el", "Portuguese": "pt",
}
MARC_TO_ISO = {"eng": "en", "fre": "fr", "ger": "de", "swe": "sv", "fin": "fi", "rus": "ru"}


def language_code(col: Column | str, mapping: dict[str, str] | None = None) -> Column:
    m = mapping or LANGUAGE_NAME_TO_ISO
    mc = F.create_map(*[x for k, v in m.items() for x in (F.lit(k), F.lit(v))])
    return mc[_c(col)]


GENDER_MAP = {"M": "male", "F": "female", "m": "male", "f": "female"}


def gender_label(col: Column | str) -> Column:
    """M/F code → label (FBTEETSV2RDF.scala:163; OBCXML2RDF.scala:195)."""
    c = _c(col)
    return F.when(F.lower(c) == "m", "male").when(F.lower(c) == "f", "female").otherwise(
        F.lit(None).cast("string")
    )


def nfc_normalize(col: Column | str) -> Column:
    """Unicode NFC normalization (HelmetMARC2ISBNRDF.scala:46-50) as a
    native expression: a JVM reflection call to ICU4J's
    ``Normalizer.compose(s, compat=false)``. ICU4J is one of Spark's own
    jars (its collations use it), so no Python worker and no Arrow
    boundary is involved. NFC follows the JVM's ICU Unicode version, not
    Python's ``unicodedata``; the two agree on every character both know.
    The NULL guard is required: reflection on a NULL argument raises."""
    c = _c(col)
    return F.when(
        c.isNotNull(),
        F.java_method(F.lit("com.ibm.icu.text.Normalizer"), F.lit("compose"), c, F.lit(False)),
    )


def norm_surface(col: Column | str) -> Column:
    """Normalization applied to both dictionary labels and detected mentions
    before linking: NFC + lowercase + punctuation trim + whitespace squash
    (HelmetMARC2ISBNRDF.scala:46-63 composition)."""
    return F.lower(F.trim(F.regexp_replace(punct_trim(nfc_normalize(_c(col))), r"\s+", " ")))


def parse_wiki_templates_udf():
    """F11: MediaWiki ``{{template|k=v|...}}`` field parser
    (ttpxml2rdf.scala:26,37-77,110-134) — depth-aware brace scanning per
    batch; returns array<struct<template:string, key:string, value:string>>.
    """
    import re as _re

    field_re = _re.compile(r"\|\s*([^=|{}]+?)\s*=\s*([^|{}]*)")

    def parse_one(text: str):
        if not text:
            return []
        out = []
        i, n = 0, len(text)
        while i < n - 1:
            if text[i : i + 2] == "{{":
                depth, j = 1, i + 2
                while j < n - 1 and depth:
                    if text[j : j + 2] == "{{":
                        depth += 1
                        j += 2
                    elif text[j : j + 2] == "}}":
                        depth -= 1
                        j += 2
                    else:
                        j += 1
                body = text[i + 2 : j - 2]
                name = body.split("|", 1)[0].strip()
                for m in field_re.finditer(body):
                    out.append({"template": name, "key": m.group(1), "value": m.group(2).strip()})
                i = j
            else:
                i += 1
        return out

    schema = T.ArrayType(
        T.StructType(
            [
                T.StructField("template", T.StringType()),
                T.StructField("key", T.StringType()),
                T.StructField("value", T.StringType()),
            ]
        )
    )

    @F.pandas_udf(schema)
    def parse(texts: pd.Series) -> pd.Series:
        return texts.map(parse_one)

    return parse


class AhoCorasick:
    """Multi-pattern string automaton (Aho-Corasick 1975, public algorithm).

    Built once per executor process from the (broadcast) surface list —
    O(total pattern length) construction, O(text length) scan — replacing
    the single alternation regex that dies at 10⁵-10⁶ dictionary surfaces
    (compile time and per-position alternation cost both explode)."""

    __slots__ = ("goto", "fail", "out")

    def __init__(self, patterns: list[str]):
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[int]] = [[]]
        for p in patterns:
            node = 0
            for ch in p:
                nxt = self.goto[node].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    nxt = len(self.goto) - 1
                    self.goto[node][ch] = nxt
                node = nxt
            if p:
                self.out[node].append(len(p))
        from collections import deque

        self.fail = [0] * len(self.goto)
        dq = deque(self.goto[0].values())
        while dq:
            u = dq.popleft()
            for ch, v in self.goto[u].items():
                dq.append(v)
                f = self.fail[u]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                cand = self.goto[f].get(ch, 0)
                self.fail[v] = cand if cand != v else 0
                self.out[v] = self.out[v] + self.out[self.fail[v]]

    def find_all(self, text: str):
        """All (start, end) occurrences of any pattern in text."""
        node = 0
        goto, fail, out = self.goto, self.fail, self.out
        for j, ch in enumerate(text):
            while node and ch not in goto[node]:
                node = fail[node]
            node = goto[node].get(ch, 0)
            for ln in out[node]:
                yield (j - ln + 1, j + 1)


def _isword(ch: str) -> bool:
    # Python \w ≈ alnum + underscore (tested equivalent on our corpora)
    return ch.isalnum() or ch == "_"


def _ac_scan_text(text: str, ac: AhoCorasick, canon: dict[str, str]) -> list[str]:
    """Emulate the alternation regex's leftmost / longest-alternative-first /
    non-overlapping / word-boundary scan over an AC match set."""
    tl = text.lower()
    n = len(tl)
    matches = sorted(ac.find_all(tl), key=lambda m: (m[0], -(m[1] - m[0])))
    res: list[str] = []
    cursor = 0
    for s, e in matches:
        if s < cursor:
            continue
        # \b = word-ness transition (out of range counts as non-word)
        left_ok = _isword(tl[s]) != (s > 0 and _isword(tl[s - 1]))
        right_ok = _isword(tl[e - 1]) != (e < n and _isword(tl[e]))
        if not (left_ok and right_ok):
            continue
        res.append(canon[tl[s:e]])
        cursor = e
    return res


# per-executor-process scanner cache: module-level so it survives across
# tasks within one Python worker (the closure itself is re-pickled per task).
# Keyed by a content fingerprint of (surfaces, engine) so identical
# dictionaries share one automaton across pipeline runs, and bounded so a
# long-lived worker seeing many distinct dictionaries can't accumulate
# unbounded compiled state.
_SCANNER_CACHE: dict = {}
_SCANNER_CACHE_MAX = 4

AC_THRESHOLD = 256  # alternation regex is faster below this dictionary size


def _surfaces_fingerprint(surfaces, engine: str) -> str:
    """Stable content key for the scanner cache: md5 over the sorted surface
    set + engine choice. Computed once on the driver (the surface list is
    already driver-resident there — either a plain list or the broadcast's
    local value)."""
    import hashlib

    h = hashlib.md5()
    h.update(engine.encode())
    for s in sorted(set(surfaces)):
        h.update(b"\x00")
        h.update(s.encode("utf-8", "surrogatepass"))
    return h.hexdigest()


def _java_quote(s: str) -> str:
    """Quote a literal for a Java regex via \\Q...\\E (splitting any embedded
    \\E so it cannot terminate the quote early)."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def mention_matches(text, surfaces, engine: str = "auto"):
    """Array-of-mentions Column for a fixed surface dictionary — the
    entry point extract_mentions / extract_triples route through.

    Small dictionaries (≤ AC_THRESHOLD distinct surfaces) run FULLY NATIVE
    (round-6 optimization): one JVM ``regexp_extract_all`` over the lowered
    text with the same longest-alternative-first literal alternation the
    'regex' engine compiles, then a literal-map lookup back to canonical
    dictionary casing — no Python worker, no Arrow boundary, and the scan
    stays inside the same whole-stage-codegen span as the rest of the
    extraction (the 'regex'/'aho' pandas UDFs put an ArrowEvalPython node
    over the full text column). Semantics are pinned identical to the
    'regex' engine by tests (leftmost, longest-alternative-first,
    non-overlapping, word-boundary): the alternation is ordered by
    (-len, s) exactly as the UDF engines order it, ``(?U)`` makes Java's
    ``\\b`` Unicode-aware like Python ``re``'s, alternatives are
    ``\\Q``-quoted literals so the matched substring always equals one
    alternative verbatim, and the canon map is built with the same
    last-writer-wins rule over the same surface ordering. Large
    dictionaries keep the Aho-Corasick Arrow path (a 10⁵-alternative regex
    is quadratic; the automaton is not).
    """
    t = _c(text)
    surfs_local = surfaces.value if hasattr(surfaces, "value") else surfaces
    eng = engine
    if eng == "auto":
        eng = "native" if len(set(surfs_local)) <= AC_THRESHOLD else "aho"
    if eng != "native":
        return mention_scan_udf(surfaces, engine=eng)(t)
    ordered = sorted(set(surfs_local), key=lambda s: (-len(s), s))
    if not ordered:
        return F.array().cast("array<string>")
    canon = {s.lower(): s for s in ordered}
    lowered = sorted({s.lower() for s in ordered}, key=lambda s: (-len(s), s))
    # zero-width first-char gate: Java tries alternation branches
    # sequentially at every position that passes \b, so a position whose
    # char starts NO alternative costs ~|alternatives| failed compares; the
    # lookahead class rejects it in one bitmap test. Zero-width => the
    # match set is identical (a match requires its first char to be in the
    # class by construction). Measured ~1.5x on the 24-surface scan.
    first_chars = "".join(
        c if c.isalnum() else "\\" + c for c in sorted({s[0] for s in lowered})
    )
    pattern = (
        "(?U)\\b(?=[" + first_chars + "])("
        + "|".join(_java_quote(s) for s in lowered)
        + ")\\b"
    )
    canon_args: list[Column] = []
    for k in sorted(canon):
        canon_args.append(F.lit(k))
        canon_args.append(F.lit(canon[k]))
    canon_map = F.create_map(*canon_args)
    matches = F.regexp_extract_all(F.lower(t), F.lit(pattern), 1)
    # every match equals one lowered alternative verbatim (literal
    # alternation), so the lookup always hits; try_element_at only for
    # ANSI-mode safety. NULL text lowers to NULL -> NULL matches -> [] ,
    # the same [] the UDF engines' fillna('') produces.
    return F.coalesce(
        F.transform(matches, lambda m: F.try_element_at(canon_map, m)),
        F.array().cast("array<string>"),
    )


def mention_scan_udf(surfaces, engine: str = "auto"):
    """Build an Arrow-vectorized mention scanner for a fixed surface-form
    dictionary (the engine's turn-level extractor, SURVEY §2.12 ext-point 1;
    semantics: word-boundary, case-insensitive, longest-match-first — the
    analog of andcsv2rdf.scala:43-47 name mentions + grandtour regex
    dictionary F9).

    ``surfaces`` is a plain list OR a pyspark ``Broadcast`` of one (pass a
    broadcast for big dictionaries so the list ships once per executor, not
    once per task). Engine selection: small dictionaries scan with one
    compiled alternation regex (``pd.Series.str.findall`` runs in C); above
    ``AC_THRESHOLD`` surfaces an Aho-Corasick automaton is built once per
    executor process (regex compile + per-position alternation both die at
    10⁵-10⁶ surfaces). Both engines produce identical output
    (test-enforced): array<string> of matched surface forms in original
    dictionary casing, leftmost-longest, non-overlapping.
    """
    bc = surfaces if hasattr(surfaces, "value") else None
    # tie-break equal lengths lexicographically: a bare key=len sort leaves
    # equal-length order to set iteration (hash-randomized per process), so
    # case-variant surfaces sharing a lowercase key could canonicalize
    # differently on different executors within ONE run
    local = (
        None if bc is not None else sorted(set(surfaces), key=lambda s: (-len(s), s))
    )
    # content-keyed cache slot (minted on the driver, stable across all
    # tasks of this UDF AND across re-invocations with the same dictionary)
    # — the automaton builds once per executor per distinct dictionary
    cache_key = _surfaces_fingerprint(bc.value if bc is not None else local, engine)

    def _build():
        surfs = (
            sorted(set(bc.value), key=lambda s: (-len(s), s))
            if bc is not None
            else local
        )
        if not surfs:
            # an empty dictionary must scan to nothing: the alternation
            # regex would otherwise degenerate to \b()\b, whose empty-string
            # matches KeyError on canon lookup
            return lambda texts: texts.fillna("").map(lambda _t: [])
        eng = engine
        if eng == "auto":
            eng = "aho" if len(surfs) > AC_THRESHOLD else "regex"
        canon = {s.lower(): s for s in surfs}
        if eng == "regex":
            # scan the LOWERED text with a lowered pattern instead of
            # re.IGNORECASE: IGNORECASE uses full Unicode case-folding
            # (µ≡μ, ς≡σ), which both KeyErrors on the .lower()-keyed canon
            # map for such matches AND disagrees with the AC engine's
            # plain-lowercase semantics — lowering both sides keeps the two
            # engines identical by construction
            lowered = sorted({s.lower() for s in surfs}, key=lambda s: (-len(s), s))
            pattern = re.compile(
                r"\b(" + "|".join(re.escape(s) for s in lowered) + r")\b"
            )

            def scan_series(texts: pd.Series) -> pd.Series:
                found = texts.fillna("").str.lower().str.findall(pattern)
                return found.map(lambda ms: [canon[m] for m in ms])

        else:
            ac = AhoCorasick(sorted({s.lower() for s in surfs}))

            def scan_series(texts: pd.Series) -> pd.Series:
                return texts.fillna("").map(lambda t: _ac_scan_text(t, ac, canon))

        return scan_series

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def scan(texts: pd.Series) -> pd.Series:
        fn = _SCANNER_CACHE.get(cache_key)
        if fn is None:
            while len(_SCANNER_CACHE) >= _SCANNER_CACHE_MAX:
                _SCANNER_CACHE.pop(next(iter(_SCANNER_CACHE)))
            fn = _SCANNER_CACHE.setdefault(cache_key, _build())
        return fn(texts)

    return scan
