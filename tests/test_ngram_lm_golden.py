"""Golden outputs of the n-gram language-model scorers and the other
per-document aggregates of ``textstats.py`` that join a result back
on the caller's id: the corpus's own unigram and bigram models, the
bigram model counted from a reference, Kneser-Ney against a
reference at orders 2, 3 and 5 (and the ``kn_trigram`` entry point),
DSIR importance weights with the fast and the portable hash, the
repetition ratio, duplicate-line stats, duplicated-span stats (fast
and portable span keys) and badword stats. Each product is pinned as
the sha256 of its schema (column order, types, nullability) plus its
sorted rows, so any change to a score, a NULL or a column moves a
hash.

Doubles are rounded to 9 decimals before hashing: a per-document
mean or sum adds its terms in shuffle-block order, which Spark does
not fix, so the last bits of a score are not part of the contract.

Texts draw from an 8-word vocabulary, so grams repeat across
documents, and some lines repeat inside a document. The scored
corpus carries empty, whitespace-only and NULL texts, documents
shorter than every order, and words the reference never saw. Ids are
unique and never NULL here: the id contract has its own tests in
``tests/test_textstats.py``. Inputs are built with 3 partitions."""

import hashlib
import json
import random

import pytest

GOLDEN = {
    'unigram': '095ce5993b56b30f3f204d9c39062151890cbcc4b80d396b05a800f717c49554',
    'bigram.lam0.75': 'a57e7fe646e4e214713a726f38843d266bea1b5b23326bb03de1b3b2fdb83521',
    'bigram.lam0.5': '2569fa98b9590367a00e17d43175689ed59549c36206b923bf91b711a251c9c3',
    'bigram_ref': '6ac3c9128117c885a74a7d9e9ad8bdc407da9bf6586dc39b28afe79412b78f4b',
    'kn.order2': '23606cb4de51ac67c759c7781d4cc828ec29ce9ec694635c7c7637ce36df53d8',
    'kn.order3': '6221ef37b952ea14c23e8deac061376c715fe6161a8b768b7bc1dae3de8a58ec',
    'kn.order5': 'ed4cad8e5a57302adc7241fdcda0cc1ee481829b43519bed369f6d7335060ac8',
    'kn.trigram': '6221ef37b952ea14c23e8deac061376c715fe6161a8b768b7bc1dae3de8a58ec',
    'dsir.portable_False': '32fc634dc941daa29474c09338e955032ce46dcf6a0e4752152152fa95199b99',
    'dsir.portable_True': '3c315cddea48cb7e09fffd7709030df25088db41ded6705f1007830fb8122a03',
    'repetition.n2': '140c4f575aacc058792283a208f4c8958bfaf6f3adae04c50490f1d14317d4dc',
    'repetition.n3': '881f4c5ef93242d8ff505ea4dffbf88db6de6a6c8441b64e88181c11efde1286',
    'dup_lines': '155070f3eea280f3d5caa023c197df57b63af256390fa32a82fa363dc5667b4e',
    'dup_spans.portable_False': '7eb2cfea6ffe899dc2b71a8ccaba6c67bee5a2003a2dc778052859d6d7b2ed8e',
    'dup_spans.portable_True': '7eb2cfea6ffe899dc2b71a8ccaba6c67bee5a2003a2dc778052859d6d7b2ed8e',
    'badwords': '0c2d14ba4c31c02b9bdf93e71e84d8859dc452e2c1e80eaac6e56724b7bc10e8',
}

WORDS = ["red", "blue", "green", "gold", "pink", "gray", "teal", "plum"]


def _round(v):
    return round(v, 9) if isinstance(v, float) else v


def _sha(df) -> str:
    rows = sorted(
        json.dumps([_round(v) for v in r], default=str)
        for r in df.collect()
    )
    blob = json.dumps([df.schema.jsonValue(), rows])
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def _check(got: dict) -> None:
    want = {k: GOLDEN.get(k) for k in got}
    assert got == want


def _texts(seed: int, count: int, max_len: int, vocab) -> list:
    rng = random.Random(seed)
    out = []
    for _ in range(count):
        words = [rng.choice(vocab) for _ in range(rng.randint(1, max_len))]
        # break some documents into lines at a random cut
        if len(words) > 4 and rng.random() < 0.5:
            cut = rng.randint(2, len(words) - 2)
            words[cut] = "\n" + words[cut]
        out.append(" ".join(words))
    return out


def _corpus_rows():
    texts = _texts(7, 24, 14, WORDS)
    texts[2] = "gold"                              # one token
    texts[3] = "Teal PLUM"                         # two tokens, case
    texts[4] = "red blue green gold"               # four tokens
    texts[5] = "blue zzz red qux blue"             # unseen words
    texts[6] = "gray teal\ngray teal\nplum\ngray teal"  # repeated lines
    texts[12] = ""
    texts[13] = "  \t "
    texts[14] = None
    texts[15] = "red blue green gold pink gray teal plum red blue green"
    texts[16] = "red blue green gold pink gray teal plum red blue green"
    return [(i + 1, t) for i, t in enumerate(texts)]


def _frame(spark, rows, schema):
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), schema
    )


@pytest.fixture(scope="module")
def corpus(spark):
    return _frame(spark, _corpus_rows(), "doc_id long, text string")


@pytest.fixture(scope="module")
def reference(spark):
    # the reference never sees "plum", so plum grams are OOV
    texts = _texts(3, 18, 12, WORDS[:-1]) + ["", None, "gold gold gold"]
    rows = [(500 + i, t) for i, t in enumerate(texts)]
    return _frame(spark, rows, "doc_id long, text string")


def test_unigram_logprob(corpus):
    from polaroam_spark.operators.textstats import unigram_logprob

    _check({"unigram": _sha(unigram_logprob(corpus))})


@pytest.mark.parametrize("lam", [0.75, 0.5])
def test_bigram_logprob(corpus, lam):
    from polaroam_spark.operators.textstats import bigram_logprob

    _check(
        {f"bigram.lam{lam}": _sha(bigram_logprob(corpus, lambda_bigram=lam))}
    )


def test_bigram_logprob_vs_reference(corpus, reference):
    from polaroam_spark.operators.textstats import (
        bigram_logprob_vs_reference,
    )

    _check(
        {
            "bigram_ref": _sha(
                bigram_logprob_vs_reference(corpus, reference)
            )
        }
    )


@pytest.mark.parametrize("order", [2, 3, 5])
def test_kn_ngram_logprob_vs_reference(corpus, reference, order):
    from polaroam_spark.operators.textstats import (
        kn_ngram_logprob_vs_reference,
    )

    out = kn_ngram_logprob_vs_reference(corpus, reference, order=order)
    _check({f"kn.order{order}": _sha(out)})


def test_kn_trigram_logprob_vs_reference(corpus, reference):
    from polaroam_spark.operators.textstats import (
        kn_trigram_logprob_vs_reference,
    )

    out = kn_trigram_logprob_vs_reference(corpus, reference)
    _check({"kn.trigram": _sha(out)})


@pytest.mark.parametrize("portable", [False, True])
def test_dsir_importance_weights(corpus, reference, portable):
    from polaroam_spark.operators.textstats import dsir_importance_weights

    out = dsir_importance_weights(
        corpus, reference, num_buckets=64, portable=portable
    )
    _check({f"dsir.portable_{portable}": _sha(out)})


@pytest.mark.parametrize("n", [2, 3])
def test_repetition_ratio(corpus, n):
    from polaroam_spark.operators.textstats import repetition_ratio

    _check({f"repetition.n{n}": _sha(repetition_ratio(corpus, n=n))})


def test_duplicate_line_stats(corpus):
    from polaroam_spark.operators.textstats import duplicate_line_stats

    _check({"dup_lines": _sha(duplicate_line_stats(corpus))})


@pytest.mark.parametrize("portable", [False, True])
def test_duplicated_span_stats(corpus, portable):
    from polaroam_spark.operators.textstats import duplicated_span_stats

    out = duplicated_span_stats(
        corpus, window=3, stride=1, portable=portable
    )
    _check({f"dup_spans.portable_{portable}": _sha(out)})


def test_badword_stats(corpus):
    from polaroam_spark.operators.textstats import badword_stats

    _check({"badwords": _sha(badword_stats(corpus, ["plum", "zzz"]))})
