"""Trained multiclass language ID (operators/langid.py): softmax
training descent/accuracy invariants on a planted multilingual
fixture, NULL handling,
a differential against the heuristic detect_language, and the
tokenizer_stats group-column composition. Trained weights are
float-sum-order unstable by nature, so the t39 gate pins the SCORER
on fixed pure-function weights and these tests certify the trainer
(same contract as the binary quality classifier)."""

import math

import pytest
from pyspark.sql import functions as F

from polaroam_spark.operators.langid import score_langid, train_langid

# distinct-stopword texts per language, matching textstats.STOPWORDS
TEXTS = {
    "en": [
        "the cat and the dog sat in the warm sun for hours",
        "this is the story of a small town and its people",
        "it was the best of times and it was the worst of times",
    ],
    "es": [
        "el perro y el gato que viven en la casa por la noche",
        "la historia de un pueblo y de la gente que vive en paz",
        "un dia por la manana el nino fue a la escuela en bus",
    ],
    "fr": [
        "le chien et le chat qui vivent dans la maison des voisins",
        "les enfants vont a l ecole le matin et rentrent le soir",
        "un jour de plus dans la vie des gens du petit village",
    ],
    "de": [
        "der hund und die katze wohnen mit den kindern in dem haus",
        "die geschichte von der stadt und den menschen die dort leben",
        "das kind geht am morgen zu der schule und kommt mit dem bus",
    ],
}


@pytest.fixture(scope="module")
def multilingual(spark):
    rows = []
    i = 0
    for lang, texts in TEXTS.items():
        for rep in range(12):
            rows.append((i, texts[rep % 3] + f" x{rep % 5}", lang))
            i += 1
    return spark.createDataFrame(
        rows, "doc_id long, text string, language string"
    ).cache()


@pytest.fixture(scope="module")
def model(multilingual):
    return train_langid(
        multilingual, n_iter=80, num_buckets=1024, learning_rate=10.0
    )


def test_training_descends_and_separates(multilingual, model):
    """Full-batch softmax GD on a separable 4-language corpus: the
    cross-entropy must fall from the ln(K) zero-weights start toward
    zero and the trained scorer must reach 100% train accuracy."""
    losses = model["loss_history"]
    assert len(losses) == 80
    assert abs(losses[0] - math.log(4)) < 0.05  # W=0 start
    assert losses[-1] < 0.35
    assert losses[-1] < losses[0] / 4
    assert all(b < a * 1.05 for a, b in zip(losses, losses[1:]))
    assert model["classes"] == ["de", "en", "es", "fr"]  # sorted
    assert model["n_rows"] == 48 and model["n_dropped"] == 0
    scored = score_langid(multilingual, model)
    n_right = scored.filter(
        F.col("language_pred") == F.col("language")
    ).count()
    assert n_right == 48
    # softmax probabilities are valid and confident on train data
    probs = [r.language_prob for r in scored.collect()]
    assert all(0.25 < p <= 1.0 + 1e-12 for p in probs)


def test_training_is_repeatable(multilingual, model):
    again = train_langid(
        multilingual, n_iter=15, num_buckets=1024, learning_rate=10.0
    )
    ref = train_langid(
        multilingual, n_iter=15, num_buckets=1024, learning_rate=10.0
    )
    assert again["classes"] == ref["classes"] == model["classes"]
    assert again["loss_history"][-1] == pytest.approx(
        ref["loss_history"][-1], rel=1e-9
    )


def test_scorer_matches_driver_replay(multilingual, model, spark):
    """Numpy replay of the scorer arithmetic on the driver: margins,
    argmax with first-class tiebreak, softmax probability."""
    import numpy as np

    from polaroam_spark.operators.quality import hashed_gram_buckets

    W = np.asarray(model["weights"])
    biases = np.asarray(model["biases"])
    rows = (
        multilingual.select(
            "doc_id",
            hashed_gram_buckets(
                "text", model["num_buckets"], model["seed"]
            ).alias("bk"),
        )
        .orderBy("doc_id")
        .collect()
    )
    got = {
        r.doc_id: (r.language_pred, r.language_prob)
        for r in score_langid(multilingual, model).collect()
    }
    for r in rows:
        idx = np.asarray(r.bk, dtype=np.int64)
        m = W[:, idx].sum(axis=1) / len(idx) + biases
        k = int(np.argmax(m))
        p = 1.0 / np.exp(m - m[k]).sum()
        pred, prob = got[r.doc_id]
        assert pred == model["classes"][k]
        assert prob == pytest.approx(p, rel=1e-9)


def test_null_and_empty_text_predict_null(spark, model):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "the and of the")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in score_langid(df, model).collect()}
    for i in (1, 2, 3):
        assert out[i].language_pred is None
        assert out[i].language_prob is None
    assert out[4].language_pred == "en"


def test_differential_vs_detect_language(multilingual, model):
    """The trained model must agree with the heuristic
    detect_language on the stopword-separable fixture — the trained
    replacement for the same slot must not regress the easy cases."""
    from polaroam_spark.operators.textstats import detect_language

    both = score_langid(multilingual, model).withColumn(
        "heuristic", detect_language(F.col("text"))
    )
    rows = both.collect()
    agree = sum(1 for r in rows if r.language_pred == r.heuristic)
    assert agree >= 0.9 * len(rows)


def test_composes_as_tokenizer_stats_group(multilingual, model):
    """The predicted language works as a fertility-table group
    column — the per-language fairness breakdown tokenizer_stats is
    for (r14's t38 surface)."""
    from polaroam_spark.operators.tokenize import (
        tokenizer_stats,
        train_bpe,
    )

    scored = score_langid(multilingual, model)
    bpe = train_bpe(scored, "text", vocab_size=300)
    stats = tokenizer_stats(
        scored, bpe, text_col="text", group_by="language_pred"
    )
    got = {r.language_pred for r in stats.collect()}
    assert got == {"de", "en", "es", "fr"}


def test_validation_errors(spark, multilingual, model):
    import polaroam_spark.operators.langid as L

    one = spark.createDataFrame(
        [(1, "a b c", "en")], "doc_id long, text string, language string"
    )
    with pytest.raises(ValueError, match=">= 2 distinct classes"):
        train_langid(one)
    with pytest.raises(ValueError, match="max_classes"):
        train_langid(multilingual, max_classes=2)
    with pytest.raises(ValueError, match="n_iter"):
        train_langid(multilingual, n_iter=0)
    with pytest.raises(ValueError, match="num_buckets"):
        train_langid(multilingual, num_buckets=0)
    bad = dict(model, weights=model["weights"][:2])
    with pytest.raises(ValueError, match="weight vectors"):
        L.score_langid(multilingual, bad)
    bad = dict(model, biases=[0.0])
    with pytest.raises(ValueError, match="biases"):
        L.score_langid(multilingual, bad)
    bad = dict(model, classes=["en", "en", "es", "fr"])
    with pytest.raises(ValueError, match="duplicate"):
        L.score_langid(multilingual, bad)


def test_null_labels_dropped_and_counted(spark):
    rows = [(i, TEXTS["en"][i % 3], "en") for i in range(6)]
    rows += [(10 + i, TEXTS["es"][i % 3], "es") for i in range(6)]
    rows += [(100, "some text", None), (101, "", "en")]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, language string"
    )
    m = train_langid(df, n_iter=3, num_buckets=256)
    assert m["n_rows"] == 12
    assert m["n_dropped"] == 2


# disjoint per-class alphabets (hanzi / kana / hangul blocks) for the
# no-whitespace fixture: every char 3-gram is class-pure, while each
# document is ONE unique word token for the DSIR word stream
_ALPHABETS = {
    "zh": "的是不了人我在有他这中大来上国",
    "ja": "としてにのがはをだれもこんで",
    "ko": "의는이가을를에서하고다면서부",
}


def _no_whitespace_corpus(seed, n_per_class, start_id=0):
    """Docs are 20 random MORPHEMES (3-char units reused across the
    class — the Zipfian reuse real language has; a uniform-random
    char soup would make every 3-gram near-unique and no feature
    could transfer) concatenated without whitespace, so each doc is
    still one never-repeating token for the word stream."""
    import random

    rnd = random.Random(seed)
    morphemes = {}
    for lang, chars in _ALPHABETS.items():
        rm = random.Random(f"morph:{lang}")
        morphemes[lang] = [
            "".join(rm.choice(chars) for _ in range(3))
            for _ in range(8)
        ]
    rows = []
    i = start_id
    for lang in _ALPHABETS:
        for _ in range(n_per_class):
            rows.append(
                (
                    i,
                    "".join(
                        rnd.choice(morphemes[lang]) for _ in range(20)
                    ),
                    lang,
                )
            )
            i += 1
    return rows


@pytest.mark.slow
def test_char_feature_holds_where_word_degrades(spark):
    """The fasttext rationale, measured: on a NO-WHITESPACE corpus
    (each doc a unique 60-char string from a class-pure alphabet) a
    char-3-5-gram model transfers to HELD-OUT documents while the
    word-gram model — which sees each doc as one never-repeated
    token — cannot beat chance by much."""
    train = spark.createDataFrame(
        _no_whitespace_corpus(7, 20),
        "doc_id long, text string, language string",
    )
    evald = spark.createDataFrame(
        _no_whitespace_corpus(99, 12, start_id=1000),
        "doc_id long, text string, language string",
    )
    n_eval = evald.count()
    accs = {}
    for feature in ("char", "word"):
        m = train_langid(
            train,
            num_buckets=512,
            n_iter=25,
            learning_rate=5.0,
            feature=feature,
        )
        assert m["feature"] == feature
        correct = (
            score_langid(evald, m)
            .filter(F.col("language_pred") == F.col("language"))
            .count()
        )
        accs[feature] = correct / n_eval
    assert accs["char"] >= 0.9, accs
    assert accs["word"] <= 0.7, accs


def test_char_feature_short_and_null_text(spark, model):
    """Char stream contracts: NULL text and sub-3-char text predict
    NULL (no evidence); a 3-char text scores (exactly one gram)."""
    cm = dict(model)
    cm["feature"] = "char"
    df = spark.createDataFrame(
        [(1, None), (2, "ab"), (3, "abc"), (4, "  ab  ")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.language_pred
        for r in score_langid(df, cm).collect()
    }
    assert out[1] is None and out[2] is None and out[4] is None
    assert out[3] is not None


def test_feature_validation(spark, multilingual):
    with pytest.raises(ValueError, match="feature"):
        train_langid(multilingual, n_iter=1, feature="byte")
    bad = {
        "classes": ["a", "b"],
        "weights": [[0.0] * 4, [0.0] * 4],
        "num_buckets": 4,
        "feature": "byte",
    }
    with pytest.raises(ValueError, match="feature"):
        score_langid(multilingual, bad)
