import re

from anything2rdf_spark.functions import text as TX


def py_wordcount(t: str) -> int:
    """Oracle: the reference counts whitespace runs (OBCXML2RDF.scala:210)."""
    return len(re.findall(r"\s+", t))


def test_wordcount_matches_reference_semantics(spark):
    cases = ["a b c", "", "one", "  leading", "trailing  ", "a\n\nb\tc", "  ", "a  b"]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = {r["t"]: r["wc"] for r in df.select("t", TX.wordcount("t").alias("wc")).collect()}
    for c in cases:
        assert got[c] == py_wordcount(c), repr(c)


def test_multi_value_split(spark):
    df = spark.createDataFrame([("a, b;; c |d\ne,",)], "s string")
    got = df.select(TX.multi_value_split("s").alias("v")).collect()[0]["v"]
    assert got == ["a", "b", "c", "d", "e"]


def test_punct_trim(spark):
    df = spark.createDataFrame([("--Hello, World!--",), ("(x)",), ("ok",)], "s string")
    got = [r["v"] for r in df.select(TX.punct_trim("s").alias("v")).collect()]
    assert got == ["Hello, World", "x", "ok"]


def test_strip_wiki_markup(spark):
    df = spark.createDataFrame([("see [[Foo|the foo]] and [[Bar]] '''bold'''",)], "s string")
    got = df.select(TX.strip_wiki_markup("s").alias("v")).collect()[0]["v"]
    assert got == "see the foo and Bar bold"


def test_expand_abbreviations(spark):
    df = spark.createDataFrame([("visited St. P. yesterday; P. too",)], "s string")
    got = df.select(
        TX.expand_abbreviations("s", {"St. P.": "Saint Petersburg", "P.": "Paris"}).alias("v")
    ).collect()[0]["v"]
    assert got == "visited Saint Petersburg yesterday; Paris too"


def test_yn_bool_and_gender(spark):
    df = spark.createDataFrame([("Y", "M"), ("N", "f"), ("?", "x")], "yn string, g string")
    rows = df.select(TX.yn_bool("yn").alias("b"), TX.gender_label("g").alias("g2")).collect()
    assert [(r["b"], r["g2"]) for r in rows] == [(True, "male"), (False, "female"), (None, None)]


def test_nfc_normalize(spark):
    decomposed = "étude"  # é as e + combining acute
    df = spark.createDataFrame([(decomposed,), (None,)], "s string")
    got = [r["v"] for r in df.select(TX.nfc_normalize("s").alias("v")).collect()]
    assert got[0] == "étude" and got[1] is None


def test_nfc_normalize_matches_unicodedata(spark):
    """The native NFC (ICU4J's ``Normalizer.compose`` on the JVM) equals
    Python's ``unicodedata.normalize("NFC")``, kept here as the reference.
    NFC follows the JVM's ICU Unicode version, so the inputs use only
    characters assigned in Python's (older) Unicode version."""
    import unicodedata

    cases = [
        "a\u0323\u0302",  # combining marks in non-canonical order -> ậ
        "a\u0302\u0323",  # the same marks in canonical order -> ậ
        "e\u0301tude",  # decomposed é
        "\u1100\u1161\u11a8",  # Hangul jamo L V T -> 각
        "\u1100\u1161",  # Hangul jamo L V -> 가
        "\u212b",  # ANGSTROM SIGN singleton -> Å
        "\u2126",  # OHM SIGN singleton -> Ω
        "\ufb01",  # ﬁ ligature: compatibility only, NFC keeps it
        "\u00bd \u2460 \uff21 \u2075",  # ½ ① Ａ ⁵: compatibility only
        "\u00c5ngstr\u00f6m",  # already NFC
        "",
        None,
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i int, s string")
    got = {r["i"]: r["v"] for r in df.select("i", TX.nfc_normalize("s").alias("v")).collect()}
    for i, c in enumerate(cases):
        want = None if c is None else unicodedata.normalize("NFC", c)
        assert got[i] == want, (i, c, got[i], want)
    # the cases do exercise composition: NFC changes most of them
    assert sum(got[i] != c for i, c in enumerate(cases)) == 7


def test_norm_surface(spark):
    df = spark.createDataFrame([("  --Ada   LOVELACE!  ",)], "s string")
    got = df.select(TX.norm_surface("s").alias("v")).collect()[0]["v"]
    assert got == "ada lovelace"


def test_mention_scan(spark):
    surfaces = ["Ada Lovelace", "Ada", "Charles Babbage"]
    df = spark.createDataFrame(
        [("Ada Lovelace met CHARLES BABBAGE; ada wrote.",), ("no names here",), (None,)],
        "t string",
    )
    got = [r["m"] for r in df.select(TX.mention_matches("t", surfaces).alias("m")).collect()]
    assert got[0] == ["Ada Lovelace", "Charles Babbage", "Ada"]  # longest-first, canonical casing
    assert got[1] == [] and got[2] == []


def test_extract_embedded_ids(spark):
    df = spark.createDataFrame([("x (123) y (45)",)], "s string")
    got = df.select(TX.extract_embedded_ids("s").alias("v")).collect()[0]["v"]
    assert got == ["123", "45"]


def test_zero_pad_id(spark):
    df = spark.createDataFrame([(123,)], "i long")
    assert df.select(TX.zero_pad_id("i").alias("v")).collect()[0]["v"] == "00000123"


def test_mention_scan_large_dictionary(spark):
    """10⁵-surface dictionary: the native scan builds its prefix-tree
    alternation and finds the planted mentions (SURVEY §7.2 hard-part;
    VERDICT r1 #5); a flat alternation tries every surface at each
    position."""
    surfaces = [f"entity{i:05d} name{i % 97}" for i in range(100_000)] + ["Ada Lovelace"]
    df = spark.createDataFrame(
        [
            ("t1", "saw entity00042 name42 and Ada Lovelace today"),
            ("t2", "no mentions at all"),
            ("t3", "entity09999 name% is cut but entity09999 name8 hits"),
        ],
        "id string, text string",
    )
    got = {
        r["id"]: r["m"]
        for r in df.select("id", TX.mention_matches("text", surfaces).alias("m")).collect()
    }
    assert got["t1"] == ["entity00042 name42", "Ada Lovelace"]
    assert got["t2"] == []
    assert got["t3"] == ["entity09999 name8"]


def test_mention_scan_broadcast_surfaces(spark):
    """A Broadcast of the surface list is read through its driver-side
    value."""
    bc = spark.sparkContext.broadcast(["Ada Lovelace", "Ada", "CERN"])
    df = spark.createDataFrame([("Ada Lovelace visited CERN with ada",)], "text string")
    (row,) = df.select(TX.mention_matches("text", bc).alias("m")).collect()
    assert row["m"] == ["Ada Lovelace", "CERN", "Ada"]


def test_punct_trim_interior_newline(spark):
    """A value with an embedded newline must trim, not collapse to '' (the
    anchored pattern needs (?s) for '.' to cross the newline)."""
    df = spark.createDataFrame([("--foo\nbar!!",), ("(x)",)], "t string")
    got = [r["o"] for r in df.select(TX.punct_trim("t").alias("o")).collect()]
    assert got == ["foo\nbar", "x"]


def test_mention_scan_unicode_casefold_safe(spark):
    """Text whose lowercase differs from any surface's lowercase under
    Unicode case-folding (micro sign µ vs Greek mu μ) must not crash the
    scanner; the scan has plain-lowercase semantics."""
    surfaces = ["μm", "Ada"]
    df = spark.createDataFrame(
        [("size in µm here",), ("about μm units",), ("ada spoke",)], "text string"
    )
    got = [r["m"] for r in df.select(TX.mention_matches("text", surfaces).alias("m")).collect()]
    # micro sign is NOT the same lowercase char as Greek mu: no match
    assert got == [[], ["μm"], ["Ada"]], got


def test_mention_canon_deterministic_case_variants(spark):
    """Case-variant surfaces sharing one lowercase key canonicalize to the
    same (lexicographically last) form on every run."""
    df = spark.createDataFrame([("ibm ships",)], "text string")
    got = df.select(TX.mention_matches("text", ["IBM", "Ibm"]).alias("m")).collect()[0]["m"]
    assert got == ["Ibm"], got
