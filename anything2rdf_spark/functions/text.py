"""Text scalar kernel (SURVEY §2.4 F1-F11, F21-F27).

Native Column expressions wherever possible: Unicode NFC is a JVM call
into the ICU4J that ships with Spark, and the dictionary mention scan is
one JVM regex at every dictionary size. The one Python piece left is the
MediaWiki template parser, an Arrow-vectorized pandas UDF operating on
whole batches — never a per-row Python UDF (input_hint mandate).
"""

from __future__ import annotations

import json
import re
import zlib

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
    dictionary entry — fine for small dictionaries. To find (not rewrite)
    the entries of a large dictionary, use :func:`mention_matches`, one
    scan whatever its size."""
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


def _rx_char(c: str) -> str:
    """One character as a Java regex literal, in or out of a character
    class: ASCII punctuation gets a backslash (legal before any
    non-alphabetic character); letters, digits and non-ASCII stand as
    themselves."""
    return "\\" + c if c < "\x80" and not c.isalnum() else c


def _prefix_alternation(words: list[str]) -> str:
    """Java regex alternation of ``words`` (sorted, distinct, non-empty)
    factored into a prefix tree: ``["ab", "abc", "ad"]`` →
    ``a(?:b(?:c)?|d)``. At each node the child branches come first and the
    end-of-word branch last (the greedy ``?``); at most one child can match
    the next character, so backtracking yields the longest word the rest
    of the pattern accepts, exactly as a flat alternation ordered
    longest-first. A node is a range of the sorted list sharing its first
    ``d`` characters, walked with an explicit stack: label length does not
    bound recursion."""
    out: list[str] = []
    stack: list = [(0, len(words), 0)]
    while stack:
        item = stack.pop()
        if isinstance(item, str):
            out.append(item)
            continue
        lo, hi, d = item
        end = len(words[lo]) == d  # the shared prefix itself is a word
        lo += end
        ops: list = []
        while lo < hi:
            c, nxt = words[lo][d], lo + 1
            while nxt < hi and words[nxt][d] == c:
                nxt += 1
            ops += ["|"] * bool(ops) + [_rx_char(c), (lo, nxt, d + 1)]
            lo = nxt
        if ops and (end or len(ops) > 2):
            ops = ["(?:", *ops, ")?" if end else ")"]
        stack.extend(reversed(ops))
    return "".join(out)


def mention_matches(text: Column | str, surfaces) -> Column:
    """Array-of-mentions Column for a fixed surface dictionary (the
    turn-level extractor, SURVEY §2.12 ext-point 1; the analog of
    andcsv2rdf.scala:43-47 name mentions and the grandtour regex dictionary
    F9): the matched surfaces in dictionary casing, leftmost,
    longest-first, non-overlapping, at word boundaries. NULL and empty
    surfaces are dropped; an empty dictionary scans to ``[]``.

    Fully native at every dictionary size: one JVM ``regexp_extract_all``
    over the lowered text, then a map lookup back to dictionary casing, so
    no Python worker or Arrow boundary is involved and the scan stays in
    the codegen span of the extraction. The alternation is a prefix tree of
    the lowered surfaces (:func:`_prefix_alternation`), so its size grows
    with the dictionary's distinct prefixes instead of a flat list tried
    one by one. ``(?U)`` makes Java's ``\\b`` Unicode-aware like Python
    ``re``'s. A zero-width first-character class rejects most positions in
    one bitmap test; it cannot change the match set. Lowering both sides
    (not ``(?i)``) keeps plain-lowercase semantics: micro sign µ does not
    match Greek μ. Surfaces sharing a lowercase form map to the last of
    them in ``(-len, s)`` order. The canon map travels as one JSON literal
    that constant-folds, however large the dictionary.

    ``surfaces`` is a list of strings; a pyspark ``Broadcast`` of one is
    read through its driver-side value.
    """
    t = _c(text)
    surfs = surfaces.value if hasattr(surfaces, "value") else surfaces
    ordered = sorted({s for s in surfs if s}, key=lambda s: (-len(s), s))
    if not ordered:
        return F.array().cast("array<string>")
    canon = {s.lower(): s for s in ordered}
    words = sorted(canon)
    pattern = (
        "(?U)\\b(?=[" + "".join(_rx_char(c) for c in sorted({w[0] for w in words}))
        + "])(" + _prefix_alternation(words) + ")\\b"
    )
    # a map lookup scans its keys, so the canon map is split into buckets
    # of ~8 keys by the CRC-32 of the key's UTF-8 bytes, which Python's
    # zlib and Spark's crc32 compute alike
    n_buckets = max(1, len(canon) // 8)
    buckets: list[dict[str, str]] = [{} for _ in range(n_buckets)]
    for k, v in canon.items():
        buckets[zlib.crc32(k.encode("utf-8")) % n_buckets][k] = v
    canon_maps = F.from_json(F.lit(json.dumps(buckets)), "array<map<string,string>>")
    matches = F.regexp_extract_all(F.lower(t), F.lit(pattern), 1)
    # every match is one lowered surface, so the lookup always hits;
    # try_element_at only for ANSI-mode safety. NULL text lowers to NULL
    # matches, coalesced to [].
    return F.coalesce(
        F.transform(matches, lambda m: F.try_element_at(
            F.element_at(canon_maps, F.pmod(F.crc32(m), F.lit(n_buckets)).cast("int") + 1), m
        )),
        F.array().cast("array<string>"),
    )
