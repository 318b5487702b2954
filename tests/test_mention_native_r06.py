"""The native mention scan (functions.text.mention_matches: one JVM regex
over a prefix-tree alternation plus a literal canon map) must reproduce a
plain-Python reference exactly — leftmost, longest-first, non-overlapping,
word-boundary, canonical casing — on adversarial fixtures, on random
dictionaries whose prefixes nest deeply, and on the real synth transcripts
the driver's gated queries scan."""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from anything2rdf_spark.functions import text as TX
from anything2rdf_spark.sources import synth


def _reference_scanner(surfaces):
    """A flat alternation of the lowered surfaces ordered by (-len, s) over
    the lowered text, mapped back through the last-writer-wins canon map."""
    ordered = sorted({s for s in surfaces if s}, key=lambda s: (-len(s), s))
    canon = {s.lower(): s for s in ordered}
    lowered = sorted(canon, key=lambda s: (-len(s), s))
    pattern = re.compile(r"\b(" + "|".join(re.escape(s) for s in lowered) + r")\b")
    return lambda text: [] if not canon or text is None else [
        canon[m] for m in pattern.findall(text.lower())
    ]


def _compare(spark, surfaces, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select("text", TX.mention_matches(F.col("text"), surfaces).alias("nat")).collect()
    assert len(rows) == len(texts)
    scan = _reference_scanner(surfaces)
    for r in rows:
        ref = scan(r.text)
        assert r.nat == ref, f"native/reference drift on {r.text!r}: {r.nat} != {ref}"


def test_native_engine_fixtures(spark):
    surfaces = ["Ada Lovelace", "Ada", "Charles Babbage", "Tim Berners-Lee", "CERN"]
    _compare(
        spark,
        surfaces,
        [
            None,
            "",
            "   ",
            "Ada Lovelace met CHARLES BABBAGE; ada wrote.",
            "no names here",
            "ada lovelace ada lovelace ada",
            "xada adax _ada ada_ (ada) [Ada] ada, .ada",
            "Tim Berners-Lee and tim berners-lee and berners-lee",
            "CERN? CERN! cern. Ada\nLovelace on two lines",
            "overlap AdaAda Lovelace",
        ],
    )


def test_native_engine_unicode_casefold(spark):
    # micro sign µ vs Greek mu μ: plain-lowercase semantics, no match for µ
    surfaces = ["μm", "Ada"]
    _compare(spark, surfaces, ["size in µm here", "about μm units", "ada spoke"])


def test_native_engine_case_variant_canon(spark):
    df = spark.createDataFrame([("ibm ships",)], "text string")
    got = df.select(
        TX.mention_matches(F.col("text"), ["IBM", "Ibm"]).alias("m")
    ).collect()[0]["m"]
    assert got == ["Ibm"]


def test_native_engine_metachars_and_accents(spark):
    surfaces = ["Études Institute", "--Études--", "a.b", "x (y)", "c+d", "q|r",
                "AT&T", "C++", "[x]", "a\\Eb", "^$", "{1}"]
    _compare(
        spark,
        surfaces,
        [
            "visit the Études Institute today",
            "études institute in lowercase",
            "a.b literal but not aXb",
            "x (y) and c+d and q|r appear",
            "étude prefix no match",
            "at&t and c++ and [x] and a\\eb",
            "x ^$ y {1} z",
        ],
    )


def test_native_engine_random_ascii_corpus(spark):
    surfaces = [
        "Ada Lovelace", "Ada", "Lovelace", "Charles Babbage", "ab", "abab",
        "error", "err", "CERN", "Tim Berners-Lee", "a b", "Zelda Fitzroy",
    ]
    rng = random.Random(13)
    words = ["ada", "lovelace", "ada lovelace", "abab", "ab", "x", "err",
             "error", "cern", "the", "err,", "ada_", "tim berners-lee", "a b"]
    cases = ["", "abab", "ab ab", "xabab", "Ada Lovelace met ada", "err error err"]
    cases += [" ".join(rng.choices(words, k=rng.randint(1, 12))) for _ in range(200)]
    cases += ["".join(rng.choices(["ab", "a", "b", " ", ",", "_"], k=rng.randint(1, 20)))
              for _ in range(200)]
    _compare(spark, surfaces, cases)


def test_native_engine_random_nested_prefixes(spark):
    """~3,000 random surfaces over a tiny alphabet with spaces,
    punctuation and an accented letter, so surfaces are prefixes of one
    another many levels deep and the prefix tree branches at every depth;
    case variants make the canon map pick among them."""
    rng = random.Random(601)
    alphabet = "abc -.'é+"
    surfaces = ["".join(rng.choices(alphabet, k=rng.randint(1, 9))) for _ in range(3000)]
    surfaces += [s.upper() for s in rng.sample(surfaces, 300)]
    surfaces += ["AT&T", "C++", "µ", "Éa", "ÉA", "", None]
    texts = [None, ""] + [
        "".join(rng.choices(alphabet + "ABÉ_x", k=rng.randint(0, 80))) for _ in range(3000)
    ]
    _compare(spark, surfaces, texts)


def test_native_engine_empty_dictionary(spark):
    """Empty and NULL labels are not surfaces: they neither match nor break
    the scan's construction."""
    df = spark.createDataFrame([("Ada met ada",), (None,)], "text string")
    for surfaces, want in (
        ([], [[], []]), ([None, ""], [[], []]), (["Ada", "", None], [["Ada", "Ada"], []])
    ):
        got = [r["m"] for r in df.select(
            TX.mention_matches(F.col("text"), surfaces).alias("m")
        ).collect()]
        assert got == want, (surfaces, got)


def test_native_engine_long_label(spark):
    """A 2,000-character label and its 1,000-character prefix: the prefix
    tree is built without recursion per character."""
    long = "ab " * 666 + "ab"
    surfaces = [long, long[:1000], "Ab"]
    _compare(spark, surfaces, [long, long[:1000] + "x", "ab " + long + " ab"])


def test_native_engine_on_synth_transcripts(spark):
    """The exact data shape the driver's gated queries scan."""
    ts = synth.transcripts(spark, n_convs=120, seed=42)
    rows = ts.select(
        "text", TX.mention_matches(F.col("text"), synth.ALL_MENTION_NAMES).alias("nat")
    ).collect()
    assert sum(len(r.nat) for r in rows) > 0
    scan = _reference_scanner(synth.ALL_MENTION_NAMES)
    bad = [r for r in rows if r.nat != scan(r.text)]
    assert not bad, bad[:3]
