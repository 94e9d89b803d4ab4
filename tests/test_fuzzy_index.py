"""The driver-side ``FuzzyIndex`` links exactly as the distributed
``link_fuzzy``: same (surface, record_id, score) rows for any dictionary,
query set, band cap and threshold. The distributed linker is the
reference; Spark's own ``lower``/``length``/``substr``/``ascii`` define the
shingles, so the strategies lean on the characters where a Python twin
could drift: strings of length 0-2, non-ASCII and astral code points,
case-special characters (dotted capital I, sharp s, final sigma) and
code points whose case mapping is newer than Python's Unicode tables."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

# U+10D50 lowers to U+10D70 in Spark's Unicode tables, not in Python 3.11's
SPECIAL = ["İ", "ß", "ẞ", "Σ", "σ", "ς", "K", "ǅ", "ﬁ", "é"]
SPECIAL += ["\U0001d538", "\U0001f600", "\U00010d50", "\U00010d70"]

_chars = st.one_of(
    st.sampled_from("abcdABCD .-"),
    st.sampled_from(SPECIAL),
    st.characters(blacklist_categories=("Cs",)),
)
_words = st.text(_chars, min_size=0, max_size=7)


@st.composite
def _cases(draw):
    words = draw(st.lists(_words, min_size=1, max_size=10, unique=True))
    dictionary = {w: f"r{draw(st.integers(0, 3))}" for w in words}
    queries = set(draw(st.lists(_words, max_size=3)))
    # a case variant under another record shares the shingle set, so a
    # query matching one ties with the other on score and the
    # smallest-record_id rule picks the winner
    for w in draw(st.lists(st.sampled_from(words), min_size=1, max_size=3)):
        if w.swapcase() not in dictionary:
            others = sorted({"r0", "r1", "r2", "r3"} - {dictionary[w]})
            dictionary[w.swapcase()] = draw(st.sampled_from(others))
            queries.add(w)
    # near-copies of dictionary surfaces, so candidates and matches occur
    for w in draw(st.lists(st.sampled_from(words), max_size=6)):
        edit = draw(st.sampled_from(["upper", "swapcase", "drop", "add"]))
        if edit == "drop":
            i = draw(st.integers(0, max(len(w) - 1, 0)))
            w = w[:i] + w[i + 1 :]
        elif edit == "add":
            w = w + draw(_chars)
        else:
            w = getattr(w, edit)()
        queries.add(w)
    band_cap = draw(st.sampled_from([None, 1, 2, 1000]))
    threshold = draw(st.sampled_from([0.0, 0.3, 0.5]))
    return sorted(dictionary.items()), sorted(queries), band_cap, threshold


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(case=_cases())
@example(case=([("", "r0"), ("a", "r1"), ("ab", "r2")], ["", "A", "AB", "b", "abc"], None, 0.0))
@example(
    case=(
        [("İstanbul", "r0"), ("Straße", "r1"), ("ΟΔΟΣ", "r2"), ("\U00010d50ab", "r3")],
        ["istanbul", "İSTANBUL", "STRASSE", "strasse", "οδος", "ΟΔΟΣ Α"]
        + ["\U00010d70ab", "\U0001d538ΟΔΟΣ"],
        None,
        0.3,
    )
)
@example(case=([("aaa", "r1"), ("aaaa", "r0"), ("AAA", "r2"), ("aab", "r3")], ["aaaaa"], 2, 0.5))
# two astral characters sharing a high surrogate: hashing a UTF-16 code unit
# instead of the code point would give them equal shingles and a score of 1
@example(case=([("\U0001F600ab", "r0")], ["\U0001F601ab"], None, 0.0))
def test_fuzzy_index_matches_link_fuzzy(spark, case):
    from pyspark.sql import functions as F

    from gtfsrt2lc_spark.operators.linking import FuzzyDictionary, FuzzyIndex, link_fuzzy

    dictionary, queries, band_cap, threshold = case
    surfaces = spark.createDataFrame(
        [(s, r, 1.0) for s, r in dictionary], "surface string, record_id string, prior double"
    )
    q = spark.createDataFrame([(s,) for s in queries], "surface string")
    want = {
        (r["surface"], r["record_id"], r["score"])
        for r in link_fuzzy(
            q,
            None,
            jaccard_threshold=threshold,
            prepped=FuzzyDictionary(surfaces, max_band_size=band_cap),
        ).collect()
    }
    # both sides lowered by Spark, as KGPipeline collects them
    index = FuzzyIndex(
        surfaces.select(F.lower("surface"), "record_id").collect(),
        max_band_size=band_cap,
    )
    got = set(index.link(q.select("surface", F.lower("surface")).collect(), threshold))
    assert got == want


def test_fuzzy_index_band_cap_drops_hot_buckets():
    """Identical signatures share every band: with a cap below the bucket
    size the query gets no candidate at all, as in link_fuzzy."""
    from gtfsrt2lc_spark.operators.linking import FuzzyIndex

    # (lower(surface), record_id) of "aaa", "aaaa", "AAA": one shingle set
    dictionary = [("aaa", "r1"), ("aaaa", "r2"), ("aaa", "r3")]
    query = [("aaaaa", "aaaaa")]
    assert FuzzyIndex(dictionary, max_band_size=None).link(query) == [
        ("aaaaa", "r1", 1.0)
    ]
    assert FuzzyIndex(dictionary, max_band_size=2).link(query) == []
