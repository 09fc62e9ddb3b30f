"""Golden outputs of the corpus-vs-eval n-gram match family: the
per-document overlap counts and decontamination survivors (with and
without the short-eval-item passes, and at ``min_overlap=2``), the
per-item contamination report, the verbatim-memorization scan (with
the matched-id cap and too-short and NULL-text probes) and the Bloom
decontaminator (fast and portable hashes, a filter small enough to
over-drop). Each product is pinned as the sha256 of its schema
(column order, types, nullability) plus its sorted rows, so any
change to a count, a survivor, a capped id list or a column moves a
hash.

Texts draw from an 8-word vocabulary, so grams repeat across
documents; upper-case and extra whitespace check that both sides
tokenize alike. Corpus and eval sides carry empty, whitespace-only
and NULL texts. Ids are never NULL here: the NULL-id rules have
their own tests in ``tests/test_dedup.py`` and
``tests/test_sketches.py``. Inputs are built with 3 partitions."""

import hashlib
import json
import random

import pytest

GOLDEN = {
    'overlap.short_True': 'cb89c1db80873ad89a85db5fce1c6d9dabdb63bbcf5697cfb9932d7272a3a26a',
    'overlap.short_False': '7b39fbbfeb94a745154f7d4b26a10951741e73a144c11c92898fcea1bbc2e4fa',
    'overlap.long_only': '7b39fbbfeb94a745154f7d4b26a10951741e73a144c11c92898fcea1bbc2e4fa',
    'decontaminate.short_True.min1': '8db8c8feab371207326836687f309d576dfb4f76d463a6aab3df20ef6a533071',
    'decontaminate.short_False.min1': '8a43b1038c22cd1065d2f5fa150579ac3f5cf6d8fd10b1cf4c03bbae51ab2e4b',
    'decontaminate.short_True.min2': '104fe7abb775e3c3dd42684ce6efd08f91e0bc2f2d99462b87e74159eef22227',
    'decontaminate.short_False.min2': 'cd44acf48cc6750c0d17699e716b5c19f8c81da04626fa10b94844fc36dd238d',
    'report.short_True': 'b4f1f47d5efa3801223f1c0588b0386c975a5568ef2f5ad99de917aa2c0bcce1',
    'report.short_False': 'd417672af6c7862d0601da2625807c051df37166fb59c83a9e3ad3754eb127f7',
    'memorization.cap2': '0d91895d97c874206251796cf4d9f1c8c532878a4af5a0c53a2320a5aeede340',
    'memorization.cap20': '403c932fdcd18b15875427ae71afe5ed647df82bdbc1479ce3dbd3df4e73543d',
    'bloom.portable_False.bits64': '97b5d0d7910e7eb524bf3edbbcab5959b89079713fc719c3c38fae2e7a9b6242',
    'bloom.portable_True.bits64': '210a13caebb41a46176fdeb1eeeaf099aba571213454f2b317b31a0b34df4188',
    'bloom.portable_False.bits16384': '8a43b1038c22cd1065d2f5fa150579ac3f5cf6d8fd10b1cf4c03bbae51ab2e4b',
    'bloom.portable_True.bits16384': '8a43b1038c22cd1065d2f5fa150579ac3f5cf6d8fd10b1cf4c03bbae51ab2e4b',
}

N = 4
WORDS = ["red", "blue", "green", "gold", "pink", "gray", "teal", "plum"]


def _sha(df) -> str:
    rows = sorted(
        json.dumps(list(r), default=str) for r in df.collect()
    )
    blob = json.dumps([df.schema.jsonValue(), rows])
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def _check(got: dict) -> None:
    want = {k: GOLDEN.get(k) for k in got}
    assert got == want


def _texts(seed: int, count: int, max_len: int) -> list:
    rng = random.Random(seed)
    return [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, max_len)))
        for _ in range(count)
    ]


EVAL_TEXTS = [
    "gold",                                   # length 1
    "teal plum",                              # length 2
    "Plum   TEAL",                            # length 2, case/space
    "red blue green",                         # length 3
    "pink gray teal plum red",                # planted below
    "gold gold gold gold gold gold",          # repeated gram
    "blue red green gold pink gray teal plum",
    "",
    "   ",
    None,
]


def _corpus_rows():
    texts = _texts(11, 24, 14)
    texts[3] = "x y " + EVAL_TEXTS[4].upper() + " z"
    texts[7] = "teal plum"                    # whole-text short match
    texts[9] = "gold gold gold gold gold gold gold"
    texts[12] = ""
    texts[13] = "  \t "
    texts[14] = None
    texts[15] = "Red Blue Green"
    for i in range(18, 23):                   # shared boilerplate
        texts[i] += " gray teal plum red"
    return list(enumerate(texts))


def _frame(spark, rows, schema):
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), schema
    )


@pytest.fixture(scope="module")
def corpus(spark):
    return _frame(spark, _corpus_rows(), "doc_id long, text string")


@pytest.fixture(scope="module")
def eval_df(spark):
    rows = [(100 + i, t) for i, t in enumerate(EVAL_TEXTS)]
    return _frame(spark, rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def eval_long(eval_df):
    from pyspark.sql import functions as F

    from polaroam_spark.functions.text import tokens

    return eval_df.filter(F.array_size(tokens("text")) >= N)


@pytest.mark.parametrize(
    "case", ["short_False", "long_only", "short_True"]
)
def test_overlap_counts(corpus, eval_df, eval_long, case):
    from polaroam_spark.operators.dedup import ngram_overlap_counts

    ev = eval_long if case == "long_only" else eval_df
    out = ngram_overlap_counts(
        corpus, ev, n=N, match_short_eval=case != "short_False"
    )
    _check({f"overlap.{case}": _sha(out)})


@pytest.mark.parametrize("short", [True, False])
@pytest.mark.parametrize("min_overlap", [1, 2])
def test_decontaminate(corpus, eval_df, short, min_overlap):
    from polaroam_spark.operators.dedup import decontaminate

    out = decontaminate(
        corpus, eval_df, n=N, min_overlap=min_overlap,
        match_short_eval=short,
    )
    _check({f"decontaminate.short_{short}.min{min_overlap}": _sha(out)})


@pytest.mark.parametrize("short", [True, False])
def test_contamination_report(corpus, eval_df, short):
    from polaroam_spark.operators.dedup import eval_contamination_report

    _check(
        {
            f"report.short_{short}": _sha(
                eval_contamination_report(
                    corpus, eval_df, n=N, match_short_eval=short
                )
            )
        }
    )


@pytest.mark.parametrize("cap", [2, 20])
def test_memorization_scan(spark, corpus, cap):
    from polaroam_spark.operators.dedup import memorization_scan

    probes = _frame(
        spark,
        [
            (200, "x gray teal plum red"),        # 5 docs: capped
            (201, "pink gray teal plum red blue"),
            (202, "teal plum"),                   # too short
            (203, None),                          # NULL text
            (204, "plum plum plum plum plum plum"),
        ]
        + [(210 + i, t) for i, t in enumerate(_texts(5, 4, 9))],
        "probe_id long, text string",
    )
    out = memorization_scan(
        corpus, probes, n=N, probe_id="probe_id", max_match_docs=cap
    )
    _check({f"memorization.cap{cap}": _sha(out)})


@pytest.mark.parametrize("portable", [False, True])
@pytest.mark.parametrize("bits", [64, 1 << 14])
def test_bloom_decontaminate(corpus, eval_df, portable, bits):
    """64 bits over-drop clean documents; 16384 bits do not."""
    from polaroam_spark.operators.sketches import bloom_decontaminate

    out = bloom_decontaminate(
        corpus, eval_df, n=N, num_bits=bits, num_hashes=2,
        portable=portable,
    )
    _check({f"bloom.portable_{portable}.bits{bits}": _sha(out)})
