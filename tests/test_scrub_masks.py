"""RE2-vs-Python-re equality pins for the scrub DETECTION masks.

The r6 optimization routes the two scrub detection scans (digit-fold
class, candidate prefilter) through pyarrow/RE2 — 13-16x faster than
Python re on the bench corpus — while every REPLACEMENT pass stays
Python re (the byte-parity engine). Safety rests on RE2 and re.ASCII
agreeing on these specific patterns; this module pins that agreement
row-for-row on adversarial cases, and pins that a detection
false-negative cannot occur (the only failure mode that could change
scrub output).

The Python-``re`` forms of both masks live here as the reference the
RE2 scans are compared against."""

import re

import pandas as pd

from soda_core_spark.functions.scrub import DIGIT_FOLD_FROM, TOXICITY_LEXICON


ADVERSARIAL = [
    None,
    "",
    " ",
    "plain ascii words only",
    "frakking",                  # toxicity word, bare
    "FRAKKING",                  # case-insensitive
    "FrAkKiNg mid sentence",
    "xfrakking",                 # no word boundary -> not a candidate
    "frakking1",                 # digit continues the word (\b ASCII)
    "frakking_",                 # underscore continues the word
    "a frakking! b",             # punctuation boundary
    "frakking-ly",               # hyphen is a boundary
    "gorram smegging feldercarb",
    "x@y",                       # '@' candidate
    "9",                         # digit candidate
    "١٢٣",        # Arabic-Indic digits: fold needed
    "১੧௧",        # Bengali/Gurmukhi/Tamil digits
    "\U000104a0",                # astral-plane digit (Osmanya)
    "émail sans digits",    # non-ASCII, no Nd digit
    "naïve frakking!",      # non-ASCII + toxicity
    "café 123",             # non-ASCII + ASCII digit
    "tab\tand\nnewline 5",
    "①Ⅱ",              # circled one / roman II: No/Nl, NOT Nd
]


#: Python-re reference for the digit-fold detection scan
_FOLD_NEEDED = re.compile("[" + DIGIT_FOLD_FROM + "]")

#: Python-re reference for the candidate prefilter
_CAN_MATCH = re.compile(
    r"[0-9@]|(?i:\b(?:" + "|".join(re.escape(w) for w in TOXICITY_LEXICON) + r")\b)",
    re.ASCII,
)


def _fold_needed_re(texts: pd.Series) -> pd.Series:
    """O(1) ``str.isascii`` gate, 650-char class scan only over the
    non-ASCII minority."""
    arr = texts.to_numpy(dtype=object)
    return pd.Series(
        [
            isinstance(s, str)
            and not s.isascii()
            and bool(_FOLD_NEEDED.search(s))
            for s in arr
        ],
        index=texts.index,
    )


def _candidate_mask_re(texts: pd.Series) -> pd.Series:
    # `== True` folds the NaN rows (null text) to False without the
    # object-dtype fillna downcast warning
    return texts.str.contains(_CAN_MATCH, regex=True) == True  # noqa: E712


def test_fold_detection_re2_equals_re():
    from soda_core_spark.functions.scrub import _contains_mask

    s = pd.Series(ADVERSARIAL)
    got = _contains_mask(s, "[" + DIGIT_FOLD_FROM + "]").to_numpy()
    want = _fold_needed_re(s).to_numpy()
    assert (got == want).all(), list(
        zip(ADVERSARIAL, want.tolist(), got.tolist())
    )
    # and the detection is live: the Nd rows are flagged, No/Nl are not
    by_text = dict(zip(ADVERSARIAL, got.tolist()))
    assert by_text["١٢٣"] is True or by_text["١٢٣"] == True  # noqa: E712
    assert bool(by_text["①Ⅱ"]) is False


def test_candidate_mask_re2_equals_re():
    from soda_core_spark.functions.scrub import _candidate_mask

    s = pd.Series(ADVERSARIAL)
    got = _candidate_mask(s).to_numpy()
    want = _candidate_mask_re(s).to_numpy()
    assert (got == want).all(), list(
        zip(ADVERSARIAL, want.tolist(), got.tolist())
    )
    by_text = dict(zip(ADVERSARIAL, got.tolist()))
    assert bool(by_text["xfrakking"]) is False   # no \b, no digit
    assert bool(by_text["frakking_"]) is False   # _ continues the word
    assert bool(by_text["frakking-ly"]) is True
    assert bool(by_text["x@y"]) is True


def test_scrub_output_unchanged_by_mask_engine(spark):
    """End-to-end: the ``scrubbed`` column (delta UDF coalesced with its
    input, the pipeline's and q21's only scrub path) over the
    adversarial set equals the sequential plain-Python oracle
    byte-for-byte (the round-5 parity contract, re-pinned across the
    detection-engine change)."""
    from soda_core_spark.functions.scrub import scrub_text, scrubbed

    texts = ADVERSARIAL + [
        "mail a@b.co ssn 123-45-6789 tel +1 (555) 123-4567 "
        "ip 10.0.0.1 card 4111 1111 1111 1111 frakking",
        "١٢٣-٤٥-٦٧٨٩",  # all-unicode SSN
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    rows = df.select("i", scrubbed(df["text"]).alias("s")).orderBy("i").collect()
    got = [r["s"] for r in rows]
    want = [scrub_text(x) for x in texts]
    assert got == want
